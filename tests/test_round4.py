"""Round-4 regression tests: VERDICT r3 items #2/#8 and every ADVICE r3
finding (packing default partitioning, stats-check-family guards,
contentSchema scalar subschemas, dependencies merging, nested unevaluated*
annotation flow, fidelity-ref join strategies)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jsonschema_spark.local import is_valid, validate
from jsonschema_spark.engine import validate_rows, validate_table


# ----------------------------------------------------- packing default (V#2)

def test_pack_sequences_default_part_has_no_single_partition(spark):
    """VERDICT r3 #2: the DEFAULT invocation (no part_col) must NOT route
    the corpus through one window partition — pack per input split via
    spark_partition_id, plan-asserted no SinglePartition exchange."""
    from jsonschema_spark.operators.packing import pack_sequences

    df = spark.range(0, 2000, 1, 8).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w "), F.col("id").cast("string")).alias("text"))
    packed = pack_sequences(df, budget=50)
    plan = packed._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    rows = packed.collect()
    assert len(rows) == 2000
    # packs actually fill: more than one doc per pack somewhere
    assert max(r["pack_pos"] for r in rows) > 1
    # multiple independent packing partitions were used
    assert len({r["part"] for r in rows}) > 1


def test_pack_sequences_explicit_part_col_unchanged(spark):
    from jsonschema_spark.operators.packing import pack_sequences

    df = spark.range(0, 100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 4).alias("grp"),
        F.lit("a b c").alias("text"))
    packed = pack_sequences(df, budget=9, part_col="grp")
    rows = {(r["part"], r["doc_id"]): (r["pack_id"], r["pack_pos"])
            for r in packed.collect()}
    # 3 tokens per doc, budget 9 -> 3 docs per pack within each grp
    assert rows[(0, 0)] == (0, 1)
    assert rows[(0, 4)] == (0, 2)
    assert rows[(0, 8)] == (0, 3)
    assert rows[(0, 12)] == (1, 1)


# ------------------------------------- stats-check family guards (ADVICE #2)

def test_stats_checks_require_spec_columns(spark):
    df = spark.createDataFrame([(1, "a")], "id int, s string")
    spec = {"x-table-checks": {"null-rates": [{"column": "id", "max_rate": 0.1}]}}
    with pytest.raises(ValueError, match="no properties"):
        validate_table(df, spec, key_col="id", part_col="s")


# --------------------------------------- contentSchema scalar (ADVICE #3)

def test_content_schema_scalar_subschema_compiles(spark):
    """A scalar contentSchema ({"type":"integer"}) used to crash from_json
    (BIGINT is not a container type); now it parses {"v": <text>} into a
    wrapped struct. E1 and E2 agree."""
    spec = {"properties": {"p": {
        "type": "string",
        "contentMediaType": "application/json",
        "contentSchema": {"type": "integer", "minimum": 10},
    }}}
    rows = [("a", "42"), ("b", "5"), ("c", '"x"'), ("d", "not json"), ("e", None)]
    df = spark.createDataFrame(rows, "k string, p string")
    viols = validate_rows(df, spec, keys=["k"])
    got = {(r["k"], r["keyword"]) for r in viols.collect()}
    assert ("b", "contentSchema") in got           # 5 < 10
    assert ("c", "contentSchema") in got           # string, not integer
    assert not any(k == "a" for k, _ in got)       # 42 valid
    # unparseable text is contentMediaType's violation, not contentSchema's
    assert ("d", "contentMediaType") in got
    assert not any(k == "d" and kw == "contentSchema" for k, kw in got)
    assert not any(k == "e" for k, _ in got)       # null forgiven
    # E1 agreement on the same instances
    for k, p in rows:
        doc = {"p": p} if p is not None else {}
        e1 = is_valid(doc, spec)
        e2 = not any(kk == k for kk, _ in got)
        assert e1 == e2, (k, p)


# --------------------------------------- dependencies merging (ADVICE #5)

def test_dependent_required_merges_with_dependencies():
    """draft-2019: `dependencies` and `dependentRequired` are independent
    keywords that AND together — a shared property name must not overwrite."""
    spec = {
        "dependencies": {"a": ["b"]},
        "dependentRequired": {"a": ["c"]},
    }
    assert is_valid({"a": 1, "b": 2, "c": 3}, spec)
    assert not is_valid({"a": 1, "b": 2}, spec)      # dependentRequired lost before
    assert not is_valid({"a": 1, "c": 3}, spec)      # dependencies still applies
    assert is_valid({"x": 1}, spec)                  # trigger absent


def test_dependent_schemas_merges_with_dependencies():
    spec = {
        "dependencies": {"a": ["b"]},
        "dependentSchemas": {"a": {"properties": {"c": {"type": "integer"}}}},
    }
    assert is_valid({"a": 1, "b": 2, "c": 3}, spec)
    assert not is_valid({"a": 1, "c": 3}, spec)          # names still required
    assert not is_valid({"a": 1, "b": 2, "c": "x"}, spec)  # schema still applies


# --------------------------- nested unevaluated* annotation flow (ADVICE #1)

def test_unevaluated_properties_in_applied_branch_covers_all():
    """ADVICE r3 medium: a VALIDATED allOf branch carrying its own
    unevaluatedProperties evaluates every name (draft-2019 annotation flow),
    so the outer unevaluatedProperties:false sees nothing unevaluated."""
    spec = {"allOf": [{"unevaluatedProperties": True}],
            "unevaluatedProperties": False}
    assert is_valid({"foo": 1}, spec)
    # schema-form nested unevaluatedProperties: same rule
    spec2 = {"allOf": [{"unevaluatedProperties": {"type": "integer"}}],
             "unevaluatedProperties": False}
    assert is_valid({"foo": 1}, spec2)
    # but a FAILING branch contributes nothing
    spec3 = {"anyOf": [{"required": ["nope"], "unevaluatedProperties": True},
                       {"required": ["foo"]}],
             "unevaluatedProperties": False}
    assert not is_valid({"foo": 1}, spec3)


def test_unevaluated_items_in_applied_branch_covers_all():
    spec = {"allOf": [{"unevaluatedItems": True}], "unevaluatedItems": False}
    assert is_valid([1, 2, 3], spec)
    spec2 = {"allOf": [{"maxItems": 100}], "unevaluatedItems": False}
    assert not is_valid([1], spec2)  # branch without unevaluatedItems: unchanged


def test_unevaluated_nested_branch_compiled_map_runtime(spark):
    """The compiled (E2) mirror of the nested-unevaluated* rule, exercised
    through the map-typed JSON path where coverage guards are runtime
    Columns."""
    spec = {"allOf": [{"unevaluatedProperties": True}],
            "unevaluatedProperties": False}
    df = spark.createDataFrame([("a", '{"foo": 1}')], "k string, p string")
    from jsonschema_spark.engine import validate_json_rows

    viols = validate_json_rows(df, "p", spec, keys=["k"]).collect()
    assert viols == []


# ------------------------------------------ x-table-checks lint (round 4)

def test_lint_flagship_spec_clean():
    """The shipped flagship spec must lint clean (no errors)."""
    from jsonschema_spark.lint import lint_spec
    from jsonschema_spark import fixtures as FX

    errors = [f for f in lint_spec(FX.SPEC_IMAGES) if f[0] == "error"]
    assert errors == []


# ----------------------------- meta-schema validation in lint (round 4)

def test_metaschemas_self_validate():
    """Each bundled meta validates against itself, and the engine DIALECT
    meta admits the published drafts' metas as specs (it is a union)."""
    from jsonschema_spark.local import validate
    from jsonschema_spark.metaschema import DIALECT, DRAFT4, DRAFT7

    for m in (DRAFT4, DRAFT7, DIALECT):
        assert validate(m, m) == []
    assert validate(DRAFT7, DIALECT) == []
    assert validate(DRAFT4, DIALECT) == []


def test_lint_meta_catches_malformed_keyword_shapes():
    """The junk class the parser handles worst: silently-accepted inert
    bounds ({"minimum": "5"}, {"enum": "x"}) and raw-TypeError shapes
    ({"pattern": 5}) all get a meta-schema lint ERROR with the offending
    path."""
    from jsonschema_spark.lint import lint_spec

    cases = {
        "/minimum": {"minimum": "5"},
        "/enum": {"enum": "x"},
        "/pattern": {"pattern": 5},
        "/required": {"required": 3},
        "/properties/a/minLength": {"properties": {"a": {"minLength": -1}}},
    }
    for path, spec in cases.items():
        metas = [f for f in lint_spec(spec)
                 if f[0] == "error" and "meta-schema" in f[2]]
        assert metas, f"missed: {spec}"
        assert metas[0][1] == path


def test_lint_meta_dialect_mixing_stays_clean():
    """Legal union-surface forms (d3 boolean required, schemas embedded in
    type arrays, d4 boolean exclusiveMinimum, string dependencies, type
    'any') must NOT false-positive against the dialect meta."""
    from jsonschema_spark.lint import lint_spec

    for spec in ({"required": True},
                 {"type": ["string", {"minimum": 5}]},
                 {"exclusiveMinimum": True, "minimum": 3},
                 {"dependencies": {"a": "b"}},
                 {"type": "any"},
                 {"prefixItems": [{"type": "integer"}], "items": False}):
        assert not [f for f in lint_spec(spec) if "meta-schema" in f[2]], spec


def test_lint_meta_follows_dollar_schema():
    """$schema selects the published meta: the d4 boolean exclusiveMinimum
    form passes under draft-04 but fails under draft-07 (where it must be
    a number)."""
    from jsonschema_spark.lint import lint_spec

    d4 = {"$schema": "http://json-schema.org/draft-04/schema#",
          "exclusiveMinimum": True, "minimum": 3}
    assert not [f for f in lint_spec(d4) if "meta-schema" in f[2]]
    d7 = {"$schema": "http://json-schema.org/draft-07/schema#",
          "exclusiveMinimum": True, "minimum": 3}
    bad = [f for f in lint_spec(d7) if "meta-schema" in f[2]]
    assert bad and bad[0][1] == "/exclusiveMinimum"
    assert "draft-07" in bad[0][2]


def test_ref_memo_makes_recursive_meta_parse_linear():
    """A schema with many ref sites back to a cycle must parse as a shared
    DAG, not an unrolled tree: before the $ref expansion memo, parsing the
    draft-07 meta-schema (~35 '#' sites x unroll 8) did not terminate in
    minutes; with it, well under a second."""
    import time

    from jsonschema_spark.metaschema import DIALECT, DRAFT7
    from jsonschema_spark.spec import parse_node

    t0 = time.time()
    parse_node(DRAFT7)
    parse_node(DIALECT)
    assert time.time() - t0 < 5.0

    # memo must not leak across parses: same schema parses equal both times
    from jsonschema_spark.local import validate
    assert validate({"minimum": "5"}, DRAFT7) == validate({"minimum": "5"}, DRAFT7)


def test_ref_memo_preserves_cycle_semantics():
    """Memoized expansion keeps the unroll-then-permissive contract: a
    linked list validates at every depth within RECURSIVE_UNROLL and is
    accepted permissively past it."""
    from jsonschema_spark.local import is_valid
    from jsonschema_spark.spec import RECURSIVE_UNROLL

    ll = {"properties": {"v": {"type": "integer"}, "next": {"$ref": "#"}}}

    def chain(depth, bad_at=None):
        node = {"v": "BAD" if bad_at == depth else depth}
        for d in range(depth - 1, -1, -1):
            node = {"v": "BAD" if bad_at == d else d, "next": node}
        return node

    assert is_valid(chain(RECURSIVE_UNROLL + 2), ll)
    for bad in (0, 3, RECURSIVE_UNROLL - 1):
        assert not is_valid(chain(RECURSIVE_UNROLL - 1, bad_at=bad), ll)
    # beyond the unroll horizon: permissive (documented delta)
    assert is_valid(chain(RECURSIVE_UNROLL + 2, bad_at=RECURSIVE_UNROLL + 1), ll)


# ------------------------------------------- boilerplate removal (B52, r4)

def _bp_docs(spark):
    rows = [
        (1, "COOKIE\nalpha\nbeta\nCOOKIE", "a"),
        (2, "COOKIE\ngamma", "a"),
        (3, "COOKIE\ndelta\nepsilon", "a"),
        (4, "COOKIE", "b"),          # all-boilerplate doc (in group a runs)
        (5, "zeta\nCOOKIE", "b"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def test_boilerplate_lines_threshold(spark):
    from jsonschema_spark.operators.text import boilerplate_lines

    df = _bp_docs(spark)
    bp = boilerplate_lines(df, min_doc_frac=0.9)
    assert {r["line"] for r in bp.collect()} == {"COOKIE"}  # 5/5 docs
    bp2 = boilerplate_lines(df, min_doc_frac=0.3)
    assert {r["line"] for r in bp2.collect()} == {"COOKIE"}  # next is 1/5
    with pytest.raises(ValueError):
        boilerplate_lines(df, min_doc_frac=0.0)


def test_remove_boilerplate_preserves_order_and_empty_docs(spark):
    from jsonschema_spark.operators.text import boilerplate_lines, remove_boilerplate

    df = _bp_docs(spark)
    bp = boilerplate_lines(df, min_doc_frac=0.9)
    out = {r["doc_id"]: r for r in remove_boilerplate(df, bp).collect()}
    assert len(out) == 5  # every doc survives
    assert out[1]["text_clean"] == "alpha\nbeta"  # order kept, both COOKIEs gone
    assert out[1]["n_lines_removed"] == 2 and out[1]["n_lines_kept"] == 2
    assert out[4]["text_clean"] == "" and out[4]["n_lines_kept"] == 0
    assert out[5]["text_clean"] == "zeta"


def test_remove_boilerplate_group_scoped(spark):
    from jsonschema_spark.operators.text import boilerplate_lines, remove_boilerplate

    df = _bp_docs(spark)
    # per-source: COOKIE is 3/3 in a but 2/2 in b -> both qualify at 0.9;
    # at 1.0 within-group both still qualify; make a group-divergent line:
    df2 = df.union(df.sparkSession.createDataFrame(
        [(6, "alpha\nonly-b", "b")], ["doc_id", "text", "source"]))
    bp = boilerplate_lines(df2, min_doc_frac=0.6, group_col="source")
    got = {(r["source"], r["line"]) for r in bp.collect()}
    assert ("a", "COOKIE") in got and ("b", "COOKIE") in got
    assert ("a", "alpha") not in got  # 1/3 in a
    out = {r["doc_id"]: r["text_clean"]
           for r in remove_boilerplate(df2, bp, group_col="source").collect()}
    assert out[6] == "alpha\nonly-b"  # alpha is not boilerplate in group b


def test_remove_boilerplate_strategies_agree_and_broadcast_plan(spark):
    from jsonschema_spark.operators.text import boilerplate_lines, remove_boilerplate

    df = _bp_docs(spark)
    bp = boilerplate_lines(df, min_doc_frac=0.9)
    a = remove_boilerplate(df, bp)
    plan = a._jdf.queryExecution().executedPlan().toString()
    # broadcast path: line join builds on the small boilerplate side; the
    # reassembly agg exchanges on doc_id (per-doc keys, never a global sort).
    # (The 1-row _n_total count agg legitimately carries a SinglePartition
    # exchange over two longs per partition — that is not a scale hazard.)
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(doc_id" in plan
    assert "Sort" not in plan.split("== Initial Plan ==")[0]


def test_remove_boilerplate_literal_metachar_separator(spark):
    """line_sep is LITERAL: a regex metachar like '|' must not be
    interpreted as alternation by the split."""
    from jsonschema_spark.operators.text import boilerplate_lines, remove_boilerplate

    df = spark.createDataFrame(
        [(1, "AD|keep one|AD"), (2, "AD|other text")], ["doc_id", "text"])
    bp = boilerplate_lines(df, min_doc_frac=0.9, line_sep="|")
    assert {r["line"] for r in bp.collect()} == {"AD"}
    out = {r["doc_id"]: r["text_clean"]
           for r in remove_boilerplate(df, bp, line_sep="|").collect()}
    assert out[1] == "keep one" and out[2] == "other text"


# ------------------------------------------- header-sniff pass (B53, r4)

def _header_fixture_cfg():
    from jsonschema_spark import fixtures as FX

    return FX.FixtureConfig(
        n=600, n_parts=8, with_bytes=True,
        rate_dup_id=0.0, rate_dup_phash=0.0, rate_orphan_license=0.0,
        rate_null_caption=0.0, rate_bad_id=0.0,
        rate_orphan_fmt=60 / 10_000, rate_w_zero=60 / 10_000,
        rate_h_big=60 / 10_000,
    )


def test_header_violations_matches_python_twin(spark):
    """Spark Column-expression pass == pure-Python byte-level twin, tuple for
    tuple, over a fixture planting all three header-violation families."""
    from jsonschema_spark import fixtures as FX
    from jsonschema_spark.passes.headers import header_violations, header_violations_py

    cfg = _header_fixture_cfg()
    fact = FX.generate_images_df(spark, cfg)
    got = {tuple(r) for r in header_violations(fact).collect()}
    plan = FX.build_plan(cfg)
    want = set()
    for i in range(cfg.n):
        r = FX.make_row(i, cfg, plan)
        for kw, path, val in header_violations_py(r):
            want.add((r["part_id"], r["image_id"], kw, path, val))
    assert got == want
    kinds = {t[2] for t in want}
    assert {"header-dims", "header-fmt"} <= kinds  # plants actually bite


def test_header_violations_families(spark):
    """Hand-built rows: one clean per format, one of each violation kind."""
    from jsonschema_spark.functions import imagecodecs as C
    import numpy as np
    from jsonschema_spark.passes.headers import header_violations

    px = np.zeros((4, 6, 3), dtype=np.uint8)
    rows = [
        ("ok-png", C.png_encode(px), 6, 4, "png", 0),
        ("ok-bmp", C.bmp_encode(px), 6, 4, "bmp", 0),
        ("ok-raw", C.raw_encode(px), 6, 4, "raw", 0),
        ("bad-magic", C.bmp_encode(px), 6, 4, "png", 1),
        ("bad-dims", C.png_encode(px), 7, 4, "png", 1),
        ("bad-len", C.raw_encode(px), 6, 5, "raw", 1),
        ("bad-fmt", C.png_encode(px), 6, 4, "webp", 1),
        ("null-bytes", None, 6, 4, "png", 1),      # skipped: rows pass owns nulls
        ("exotic-raw", C.raw_encode(px), 6, 4, "jpeg", 1),  # raw payload: unsniffable
    ]
    df = spark.createDataFrame(
        [(k, b, w, h, f, p) for k, b, w, h, f, p in rows],
        "image_id string, bytes binary, w int, h int, fmt string, part_id int")
    got = {r["row_key"]: r["keyword"] for r in header_violations(df).collect()}
    assert got == {
        "bad-magic": "header-magic",
        "bad-dims": "header-dims",
        "bad-len": "header-len",
        "bad-fmt": "header-fmt",
    }


def test_header_violations_plan_is_scan_side(spark):
    """One narrow projection: no Exchange, no UDF, whole-stage codegen."""
    from jsonschema_spark import fixtures as FX
    from jsonschema_spark.passes.headers import header_violations

    fact = FX.generate_images_df(spark, _header_fixture_cfg())
    plan = header_violations(fact)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# --------------------------------------- aspect-ratio bucketing (r4)

def test_assign_aspect_buckets_against_duckdb_twin(spark):
    """Arg-min bucket assignment == a DuckDB window-function twin over the
    same bucket ladder (in-test oracle, same pattern as the r3 KLL twins)."""
    import duckdb

    from jsonschema_spark import fixtures as FX
    from jsonschema_spark.operators.images import DEFAULT_BUCKETS, assign_aspect_buckets

    # dup_id plants off: both sides key by image_id, so ids must be unique
    cfg = FX.FixtureConfig(n=400, n_parts=8, with_bytes=False,
                           rate_dup_id=0.0)
    fact = FX.generate_images_df(spark, cfg)
    got = {
        r["image_id"]: (r["bucket_w"], r["bucket_h"])
        for r in assign_aspect_buckets(fact).collect()
    }
    pdf = fact.select("image_id", "w", "h").toPandas()
    bucket_values = ", ".join(f"({bw}, {bh})" for bw, bh in DEFAULT_BUCKETS)
    want_rows = duckdb.sql(f"""
        WITH b(bw, bh) AS (VALUES {bucket_values}),
        d AS (
          SELECT image_id, bw, bh,
                 row_number() OVER (
                   PARTITION BY image_id
                   ORDER BY abs(ln(w*1.0/h) - ln(bw*1.0/bh)), bw) AS rk
          FROM pdf CROSS JOIN b WHERE w > 0 AND h > 0
        )
        SELECT image_id, bw, bh FROM d WHERE rk = 1
    """).fetchall()
    want = {rid: (bw, bh) for rid, bw, bh in want_rows}
    # rows with invalid dims (w=0 / h plants) must be NULL-bucketed
    for rid, (bw, bh) in got.items():
        if rid not in want:
            assert bw is None and bh is None
        else:
            assert (bw, bh) == want[rid], rid
    assert len(want) > 300 and set(want) <= set(got)


def test_aspect_bucket_census_and_plan(spark):
    from jsonschema_spark import fixtures as FX
    from jsonschema_spark.operators.images import (
        aspect_bucket_census, assign_aspect_buckets)

    cfg = FX.FixtureConfig(n=400, n_parts=8, with_bytes=False, plants=False)
    fact = FX.generate_images_df(spark, cfg)
    census = aspect_bucket_census(fact)
    rows = census.collect()
    assert sum(r["n_images"] for r in rows) == 400
    assert all(r["avg_dist"] >= 0 for r in rows)
    # assignment itself is scan-side: no exchange, no python
    plan = assign_aspect_buckets(fact)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    # custom ladder + validation
    sq = aspect_bucket_census(fact, buckets=((512, 512),)).collect()
    assert len(sq) == 1 and sq[0]["n_images"] == 400
    import pytest as _pytest
    with _pytest.raises(ValueError):
        assign_aspect_buckets(fact, buckets=())


def test_header_violations_streaming(spark, tmp_path):
    """B53 is stateless Column exprs, so it runs unchanged on a streaming
    DataFrame — the ingestion-time shape a 10^12-row pipeline validates
    payload headers in (no batch rescan)."""
    from jsonschema_spark import fixtures as FX
    from jsonschema_spark.passes.headers import header_violations, header_violations_py

    cfg = _header_fixture_cfg()
    src = str(tmp_path / "src")
    FX.generate_images_df(spark, cfg).write.parquet(src)
    stream = spark.readStream.schema(FX.IMAGES_DDL).parquet(src)
    q = (header_violations(stream)
         .writeStream.format("memory").queryName("hdr_stream")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM hdr_stream").collect()}
    plan = FX.build_plan(cfg)
    want = set()
    for i in range(cfg.n):
        r = FX.make_row(i, cfg, plan)
        for kw, path, val in header_violations_py(r):
            want.add((r["part_id"], r["image_id"], kw, path, val))
    assert got == want and len(want) > 0


# --------------------------------------- lint: unresolvable refs (r4)

def test_lint_flags_unresolvable_refs():
    from jsonschema_spark.lint import lint_spec

    bad = {"properties": {
        "a": {"$ref": "#/$defs/missing"},
        "b": {"$ref": "https://nowhere.example/x"},
        "c": {"$dynamicRef": "#nope"},
    }}
    errs = {(sev, path) for sev, path, _ in lint_spec(bad)}
    assert ("error", "/properties/a") in errs
    assert ("error", "/properties/b") in errs
    assert ("error", "/properties/c") in errs


def test_lint_accepts_id_registry_refs():
    from jsonschema_spark.lint import lint_spec

    ok = {"$id": "https://e/r",
          "properties": {"a": {"$ref": "x.json"},
                         "b": {"$ref": "#/$defs/n"},
                         "c": {"$ref": "x.json#leaf"}},
          "$defs": {"x": {"$id": "x.json",
                          "$defs": {"l": {"$anchor": "leaf"}}},
                    "n": {"type": "integer"}}}
    assert lint_spec(ok) == []


# --------------------------------- aspect-ratio bucketing (B54, r4)

def _py_bucket(w: int, h: int, buckets):
    """Python twin of operators/images._bucket_expr: arg-min of
    |log(w/h) - log(bw/bh)|, ties by bucket width (struct sort order)."""
    import math

    ar = math.log(w / h)
    return min(buckets, key=lambda b: (abs(ar - math.log(b[0] / b[1])), b[0]))


def test_assign_aspect_buckets_known_rows(spark):
    from jsonschema_spark.operators.images import assign_aspect_buckets

    df = spark.createDataFrame(
        [("sq", 1000, 1000), ("wide", 2000, 500), ("tall", 500, 2000),
         ("zero", 0, 5), ("nullw", None, 7)],
        "image_id string, w int, h int")
    got = {r["image_id"]: (r["bucket_w"], r["bucket_h"])
           for r in assign_aspect_buckets(df).collect()}
    assert got["sq"] == (1024, 1024)
    assert got["wide"] == (2048, 512)
    assert got["tall"] == (512, 2048)
    assert got["zero"] == (None, None)
    assert got["nullw"] == (None, None)


def test_aspect_census_matches_python_twin(spark):
    """Spark census == Python replay of the deterministic fixture, bucket
    for bucket (counts exact; float means to 4 decimals)."""
    from collections import Counter

    from jsonschema_spark import fixtures as FX
    from jsonschema_spark.operators.images import (
        DEFAULT_BUCKETS, aspect_bucket_census)

    cfg = FX.FixtureConfig(n=800, n_parts=8, with_bytes=False)
    plan = FX.build_plan(cfg)
    want = Counter()
    for i in range(cfg.n):
        r = FX.make_row(i, cfg, plan)
        if r["w"] and r["h"] and r["w"] > 0 and r["h"] > 0:
            want[_py_bucket(r["w"], r["h"], DEFAULT_BUCKETS)] += 1
    fact = FX.generate_images_df(spark, cfg)
    got = {(r["bucket_w"], r["bucket_h"]): r["n_images"]
           for r in aspect_bucket_census(fact).collect()}
    assert got == dict(want) and sum(got.values()) > 0


def test_assign_aspect_buckets_plan_scan_side(spark):
    """Scan-side projection: no Exchange, no Python eval in the plan."""
    from jsonschema_spark import fixtures as FX
    from jsonschema_spark.operators.images import assign_aspect_buckets

    df = spark.createDataFrame([("a", 640, 480)], "image_id string, w int, h int")
    plan = assign_aspect_buckets(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# -------------------------- exact substring-span dedup (B55, Lee et al. 2021)

def _span_docs(spark):
    shared = ("alpha bravo charlie delta echo foxtrot golf hotel "
              "india juliett kilo lima")
    rows = []
    for i in range(40):
        filler = " ".join(f"tok{i}x{j}" for j in range(20))
        text = f"{filler} {shared} tail{i}" if i % 5 == 0 else f"{filler} tail{i}"
        rows.append((f"d{i:03d}", text))
    rows.append(("d900", " ".join(
        ["repeat me now please one two three four"] * 3)))
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_duplicated_spans_planted_run(spark):
    """A 12-token run shared by 8 docs: every window of the run is flagged,
    the min-(id,pos) copy (d000) is canonical and keeps the run, every other
    copy merges to exactly one [20, 32) span."""
    from jsonschema_spark.operators.dedup import duplicated_spans

    docs = _span_docs(spark)
    spans = {(r["doc_id"], r["span_start"], r["span_end"])
             for r in duplicated_spans(docs, span_tokens=8).collect()}
    sharers = [f"d{i:03d}" for i in range(0, 40, 5)]
    for d in sharers[1:]:
        assert (d, 20, 32) in spans, d
    assert not any(d == "d000" for d, _, _ in spans)
    # the self-repeating doc keeps its first phrase occurrence: span [8, 24)
    assert ("d900", 8, 24) in spans
    assert {(s, e) for d, s, e in spans if d == "d900"} == {(8, 24)}


def test_remove_duplicated_spans_keep_canonical(spark):
    from jsonschema_spark.operators.dedup import remove_duplicated_spans

    docs = _span_docs(spark)
    out = {r["doc_id"]: r for r in
           remove_duplicated_spans(docs, span_tokens=8).collect()}
    # canonical doc unchanged
    assert out["d000"]["n_tokens_removed"] == 0
    assert "alpha bravo" in out["d000"]["text_clean"]
    # non-canonical sharers lose exactly the 12 run tokens, keep their tail
    assert out["d005"]["n_tokens_removed"] == 12
    assert "alpha" not in out["d005"]["text_clean"]
    assert out["d005"]["text_clean"].endswith("tail5")
    # self-repeat collapses to one phrase copy
    assert out["d900"]["text_clean"] == "repeat me now please one two three four"
    # untouched docs round-trip
    assert out["d001"]["n_tokens_removed"] == 0 and out["d001"]["n_spans"] == 0


def test_remove_duplicated_spans_scrub_all(spark):
    """keep_canonical=False (eval-decontamination setting) scrubs EVERY
    occurrence, canonical included."""
    from jsonschema_spark.operators.dedup import remove_duplicated_spans

    docs = _span_docs(spark)
    out = {r["doc_id"]: r for r in
           remove_duplicated_spans(docs, span_tokens=8,
                                   keep_canonical=False).collect()}
    assert out["d000"]["n_tokens_removed"] == 12
    assert out["d900"]["text_clean"] == ""
    assert out["d900"]["n_tokens_removed"] == 24


def test_remove_duplicated_spans_duckdb_twin(spark):
    """Full-pipeline equality against an independent DuckDB implementation
    (window-function islands instead of HOF aggregate) on a corpus with
    organic overlaps: shared fragments at varying offsets, adjacent
    fragments (span merging), same-doc repeats, an empty doc."""
    import duckdb

    from jsonschema_spark.operators.dedup import remove_duplicated_spans

    frags = [" ".join(f"s{k}w{j}" for j in range(10)) for k in range(6)]
    rows = []
    for i in range(120):
        filler = " ".join(f"f{i}u{j}" for j in range(5))
        parts = [filler, frags[i % 6], f"mid{i}"]
        if i % 4 == 0:
            parts.append(frags[(i + 1) % 6])  # adjacent second fragment
        if i % 7 == 0:
            parts.append(frags[i % 6])  # same-doc repeat
        parts.append(f"tail{i}")
        rows.append((f"c{i:04d}", " ".join(parts)))
    rows.append(("c9999", ""))  # empty doc survives
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    L = 8
    got = {r["doc_id"]: (r["text_clean"], r["n_tokens_removed"])
           for r in remove_duplicated_spans(docs, span_tokens=L).collect()}

    pdf = docs.toPandas()
    want_rows = duckdb.sql(f"""
        WITH words AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
          FROM pdf
        ),
        occ_base AS (
          SELECT doc_id, w, unnest(generate_series(1, len(w) - {L} + 1)) AS p
          FROM words WHERE len(w) >= {L}
        ),
        occ AS (
          SELECT doc_id, p - 1 AS pos,
                 md5(array_to_string(w[p : p + {L} - 1], chr(31))) AS fp
          FROM occ_base
        ),
        marked AS (
          SELECT doc_id, pos,
                 count(*) OVER (PARTITION BY fp) AS n_occ,
                 row_number() OVER (PARTITION BY fp
                                    ORDER BY doc_id, pos) AS rn
          FROM occ
        ),
        dup AS (SELECT doc_id, pos FROM marked WHERE n_occ >= 2 AND rn > 1),
        isl AS (
          SELECT doc_id, pos,
                 max(pos + {L}) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_end
          FROM dup
        ),
        grp AS (
          SELECT doc_id, pos,
                 sum(CASE WHEN prev_end IS NULL OR pos > prev_end
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM isl
        ),
        spans AS (
          SELECT doc_id, min(pos) AS s, max(pos + {L}) AS e
          FROM grp GROUP BY doc_id, island
        ),
        tok_base AS (
          SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
          FROM words
        ),
        toks AS (SELECT doc_id, i - 1 AS idx, w[i] AS tok FROM tok_base),
        kept AS (
          SELECT t.* FROM toks t
          WHERE NOT EXISTS (SELECT 1 FROM spans s
                            WHERE s.doc_id = t.doc_id
                              AND t.idx >= s.s AND t.idx < s.e)
        ),
        rebuilt AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS text_clean,
                 count(*) AS n_kept
          FROM kept GROUP BY doc_id
        )
        SELECT w.doc_id, coalesce(r.text_clean, '') AS text_clean,
               len(w.w) - coalesce(r.n_kept, 0) AS n_removed
        FROM words w LEFT JOIN rebuilt r USING (doc_id)
    """).fetchall()
    want = {d: (t, n) for d, t, n in want_rows}
    assert set(got) == set(want)
    for d in want:
        assert got[d] == want[d], d
    # non-vacuous: fragments actually got scrubbed somewhere
    assert sum(n for _, n in got.values()) > 100


# ------------------------------------- B45 extension: format inference (r4)

def test_suggest_format_inference(spark):
    """A string column whose every non-null value matches a menu format gets
    that `format` suggested (precedence order); one non-matching value or an
    all-null column kills the suggestion; nulls are ignored otherwise."""
    from jsonschema_spark.suggest import profile_columns, suggest_spec

    rows = [(i,
             f"u{i}@example.com",
             f"2024-01-{(i % 27) + 1:02d}",
             "not-a-uuid" if i == 3 else f"550e8400-e29b-41d4-a716-{i:012d}",
             None if i % 2 else f"10.0.0.{i}",
             None) for i in range(8)]
    df = spark.createDataFrame(
        rows, "id int, em string, dt string, uu string, ip string, nul string")
    prof = {r["column"]: r["suggested_format"]
            for r in profile_columns(df).collect()}
    assert prof["em"] == "email"
    assert prof["dt"] == "date"
    assert prof["uu"] is None        # one non-matching value
    assert prof["ip"] == "ipv4"      # nulls ignored
    assert prof["nul"] is None       # all-null: no format
    assert prof["id"] is None        # non-string: no format
    spec = suggest_spec(df)
    assert spec["properties"]["em"]["format"] == "email"
    assert "format" not in spec["properties"]["uu"]


def test_suggest_format_precedence_and_roundtrip(spark):
    """date-time outranks uri (an RFC3339 timestamp is not uri-shaped, but a
    colon-bearing string can be both — fixed precedence keeps the suggestion
    deterministic), and the clean-round-trip property survives the new
    keyword: the engine asserts the SAME regex it profiled with."""
    from jsonschema_spark.engine import validate_rows
    from jsonschema_spark.suggest import suggest_spec

    rows = [(i, f"2024-01-0{i + 1}T12:00:0{i}Z", f"scheme{i}:rest") for i in range(5)]
    df = spark.createDataFrame(rows, "id int, ts string, u string")
    spec = suggest_spec(df)
    assert spec["properties"]["ts"]["format"] == "date-time"
    assert spec["properties"]["u"]["format"] == "uri"
    got = validate_rows(df, spec, keys=["id"]).collect()
    assert got == []


# ------------------------- cross-modal embedding alignment (B56, new r4)

def test_alignment_cos_semantics(spark):
    """Scorable pairs get the exact cosine; NULL / empty / mismatched-length
    / zero-norm pairs are NULL-cos and fail the aligned gate (an unscorable
    pair must never pass curation silently)."""
    from jsonschema_spark.operators.alignment import alignment_verdicts

    rows = [
        (1, [1.0, 0.0], [1.0, 0.0]),     # cos = 1
        (2, [1.0, 0.0], [0.0, 1.0]),     # cos = 0
        (3, [1.0, 0.0], [-1.0, 0.0]),    # cos = -1
        (4, None, [1.0, 0.0]),           # null side
        (5, [1.0, 0.0], [1.0, 0.0, 0.0]),  # length mismatch
        (6, [0.0, 0.0], [1.0, 0.0]),     # zero norm
        (7, [], []),                     # empty
    ]
    df = spark.createDataFrame(
        rows, "id int, text_vec array<double>, image_vec array<double>")
    out = {r["id"]: r for r in
           alignment_verdicts(df, "text_vec", "image_vec", "id",
                              threshold=0.5).collect()}
    assert abs(out[1]["align_cos"] - 1.0) < 1e-12 and out[1]["aligned"]
    assert abs(out[2]["align_cos"]) < 1e-12 and not out[2]["aligned"]
    assert abs(out[3]["align_cos"] + 1.0) < 1e-12 and not out[3]["aligned"]
    for i in (4, 5, 6, 7):
        assert out[i]["align_cos"] is None and not out[i]["aligned"], i


def test_alignment_verdicts_plan_scan_side(spark):
    from jsonschema_spark.operators.alignment import alignment_verdicts

    df = spark.range(10).select(
        F.col("id"),
        F.array(*[F.rand(1) for _ in range(4)]).alias("text_vec"),
        F.array(*[F.rand(2) for _ in range(4)]).alias("image_vec"))
    plan = (alignment_verdicts(df)._jdf.queryExecution().executedPlan()
            .toString())
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_alignment_stats_duckdb_twin(spark):
    """Per-group census vs an independent DuckDB implementation on
    deterministic vectors, unscorable rows included."""
    import duckdb

    from jsonschema_spark.operators.alignment import alignment_stats

    rows = []
    for i in range(60):
        a = [((i * 7 + j * 3) % 11) - 5.0 for j in range(8)]
        b = [((i * 5 + j * 7) % 13) - 6.0 for j in range(8)]
        rows.append((i, f"g{i % 3}", a, None if i % 17 == 0 else b))
    df = spark.createDataFrame(
        rows, "id int, grp string, va array<double>, vb array<double>")
    got = {r["grp"]: r for r in
           alignment_stats(df, "va", "vb", group_col="grp",
                           threshold=0.1).collect()}
    pdf = df.toPandas()
    want = duckdb.sql("""
        WITH p AS (
          SELECT grp, CASE WHEN vb IS NULL THEN NULL
                      ELSE list_cosine_similarity(va, vb) END AS cos
          FROM pdf
        )
        SELECT grp, count(*) AS n,
               sum(CASE WHEN cos IS NULL THEN 1 ELSE 0 END) AS n_unscorable,
               sum(CASE WHEN cos IS NULL OR cos < 0.1 THEN 1 ELSE 0 END)
                 AS n_misaligned,
               avg(cos) AS mean_cos, min(cos) AS min_cos, max(cos) AS max_cos
        FROM p GROUP BY grp
    """).fetchall()
    assert len(want) == 3
    for grp, n, nu, nm, mc, mn, mx in want:
        g = got[grp]
        assert (g["n"], g["n_unscorable"], g["n_misaligned"]) == (n, nu, nm)
        assert abs(g["mean_cos"] - mc) < 1e-9
        assert abs(g["min_cos"] - mn) < 1e-9 and abs(g["max_cos"] - mx) < 1e-9
    # non-vacuous: every failure mode present somewhere
    assert sum(g["n_unscorable"] for g in got.values()) >= 3
    assert 0 < sum(g["n_misaligned"] for g in got.values()) < 60


# ----------------------------- corpus vocabulary stats (B57, new r4)

def _vocab_docs(spark):
    rows = []
    for i in range(30):
        common = "the quick brown fox" if i % 2 == 0 else "the lazy dog"
        rows.append((i, f"{common} unique{i} " + ("shared " * (i % 4))))
    rows.append((30, None))
    rows.append((31, "   "))
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_vocabulary_and_top_tokens_duckdb(spark):
    import duckdb

    from jsonschema_spark.operators.text import top_tokens, vocabulary

    docs = _vocab_docs(spark)
    voc = {r["token"]: (r["n_occ"], r["n_docs"])
           for r in vocabulary(docs).collect()}
    assert voc["the"] == (30, 30)
    assert voc["shared"][0] == sum(i % 4 for i in range(30))
    assert "" not in voc

    got = [(r["rank"], r["token"], r["n_occ"], r["n_docs"],
            round(r["frac"], 9), round(r["cum_frac"], 9))
           for r in top_tokens(docs, k=5).collect()]
    pdf = docs.toPandas()
    want = duckdb.sql(r"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(trim(text), '\s+')) AS token
          FROM pdf WHERE text IS NOT NULL
        ),
        v AS (SELECT token, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
              FROM toks WHERE token <> '' GROUP BY token),
        tot AS (SELECT CAST(sum(n_occ) AS DOUBLE) AS total FROM v),
        h AS (SELECT *, row_number() OVER (ORDER BY n_occ DESC, token) AS rank
              FROM v QUALIFY rank <= 5)
        SELECT rank, token, n_occ, n_docs,
               ROUND(n_occ / total, 9) AS frac,
               ROUND(sum(n_occ) OVER (ORDER BY rank
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / total,
                   9) AS cum_frac
        FROM h CROSS JOIN tot ORDER BY rank
    """).fetchall()
    assert got == [tuple(w) for w in want]
    # coverage curve is monotone and ends below 1 (unique tokens exist)
    cums = [g[5] for g in got]
    assert cums == sorted(cums) and cums[-1] < 1.0


def test_top_tokens_bounded_ordered_work(spark):
    """The only ordered step is TakeOrderedAndProject bounded to k — no
    global Sort over the full vocabulary."""
    from jsonschema_spark.operators.text import top_tokens

    plan = (top_tokens(_vocab_docs(spark), k=5)._jdf.queryExecution()
            .executedPlan().toString())
    assert "TakeOrderedAndProject" in plan


def test_oov_stats_exact_and_broadcast(spark):
    from jsonschema_spark.operators.text import oov_stats

    docs = spark.createDataFrame(
        [(0, "a b c a"), (1, "c d"), (2, None)], "doc_id int, text string")
    vocab = spark.createDataFrame([("a",), ("c",), ("zz",)], "token string")
    q = oov_stats(docs, vocab)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    r = q.collect()[0]
    # tokens: a,b,c,a,c,d (6); types: a,b,c,d (4); oov: b,d (1 occ each)
    assert (r["n_tokens"], r["n_types"]) == (6, 4)
    assert (r["n_oov_tokens"], r["n_oov_types"]) == (2, 2)
    assert abs(r["oov_token_frac"] - 2 / 6) < 1e-12
    assert abs(r["oov_type_frac"] - 0.5) < 1e-12


# ---------------------------------------------------- lint round-4 additions
def test_lint_typo_and_vocabulary_warnings():
    from jsonschema_spark.lint import lint_spec

    # close-match typo warns with a suggestion
    f = lint_spec({"properties": {"n": {"minimumm": 5}}})
    assert any(sev == "warning" and "minimumm" in msg and "'minimum'" in msg
               for sev, _, msg in f)
    # distant unknown keys are legal annotations — silent
    assert lint_spec({"properties": {"n": {"myCustomAnnotation": 1}}}) == []
    # property NAMES are never scanned as keywords
    assert lint_spec({"properties": {"tyep": {"type": "string"}}}) == []
    # x- extensions are silent
    assert lint_spec({"x-myext": True}) == []
    # $vocabulary required-true warns once
    f = lint_spec({"$vocabulary": {
        "https://json-schema.org/draft/2020-12/vocab/validation": True,
        "https://json-schema.org/draft/2020-12/vocab/format-annotation": False,
    }})
    assert sum("vocabulary" in m for _, _, m in f) == 1
    # prefixItems subschemas are walked (inverted bound caught inside)
    f = lint_spec({"prefixItems": [{"minimum": 9, "maximum": 1}]})
    assert any(sev == "error" and p == "/prefixItems/0" for sev, p, _ in f)


# ------------------------- affine-mixed md5 MinHash twin (round-4 perf)

def test_minhash_affine_mix_oracle_on_pathological_texts(spark):
    """The two-stage md5 scheme (ONE md5 per shingle + 64 affine mixes,
    __spark_entry__._MIX_AB) must reproduce DuckDB's minima bit-exactly on
    the same messy-separator corpus as the r3 per-k-md5 test — same
    below-width drops, same normalized-equality of docs 7/8."""
    import duckdb
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E
    from jsonschema_spark.operators import dedup
    from tests.test_round3 import PATHOLOGICAL_DOCS, _pathological_df

    got = {
        r["id"]: r["sig"]
        for r in dedup.minhash_signatures(
            _pathological_df(spark), num_hashes=8,
            max_shingle_freq=None,
            prehash_fn=E._md5_prehash,
            mix_fn=E._md5_mix,
        ).collect()
    }
    consts = "consts(k, a, b) AS (VALUES " + ", ".join(
        f"({k}, {a}, {b})" for k, (a, b) in enumerate(E._MIX_AB[:8])) + ")"
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in PATHOLOGICAL_DOCS)
        + ") AS t(doc_id, text)"
    )
    rows = con.execute(
        "WITH " + consts + r""",
        w AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS wl
          FROM documents
        ),
        sh AS (
          SELECT DISTINCT doc_id, wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2] AS shingle
          FROM w, UNNEST(range(1, GREATEST(len(wl) - 1, 1))) AS t(i)
        ),
        hsh AS (
          SELECT doc_id,
                 (CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT)
                  % 1073741824) AS h
          FROM sh
        ),
        mh AS (
          SELECT doc_id, k, MIN((a * h + b) % 1073741789) AS mn
          FROM hsh CROSS JOIN consts GROUP BY 1, 2
        )
        SELECT doc_id, array_agg(mn ORDER BY k) AS sig FROM mh GROUP BY 1
        """
    ).fetchall()
    want = {doc_id: list(sig) for doc_id, sig in rows}
    assert got == want
    assert set(got) == {6, 7, 8}
    assert got[7] == got[8]
    # mixes are genuinely distinct hash functions (no two collapse)
    for sig in got.values():
        assert len(set(sig)) > 1


def test_duplicated_window_occurrences_single_exchange(spark):
    """r4 plan shape: detection is ONE exchange (window aggregates over
    partitionBy(fp)) — the former groupBy+join-back shape produced two
    hashpartitioning exchanges and computed the explode subtree twice."""
    from jsonschema_spark.operators.dedup import duplicated_window_occurrences

    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("a b c d e f g h i j k l "),
                 (F.col("id") % 7).cast("string")).alias("text"))
    occ = duplicated_window_occurrences(df, span_tokens=8)
    plan = occ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
