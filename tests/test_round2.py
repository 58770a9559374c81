"""Round-2 regression tests: hot-shingle skew guard,
sort-merge fallback, union-type JSON parsing, non-object payloads, and
vectorized batch-path equivalence. The CLI drift/fidelity-path tests live
in ``test_job.py``.
"""

from __future__ import annotations


import numpy as np
import pytest
from pyspark.sql import functions as F

from jsonschema_spark import fixtures as FX
from jsonschema_spark.engine import validate_json_rows


# --------------------------------------------------- fidelity expectations

def expected_fidelity(cfg: FX.FixtureConfig) -> set[tuple[str, str]]:
    """Driver-side mirror of the fidelity pass over the planted fixture —
    same make_row source of truth, pure Python."""
    from jsonschema_spark.functions import imagecodecs as codecs

    plan = FX.build_plan(cfg)
    out = set()
    for i in range(cfg.n):
        row = FX.make_row(i, cfg, plan)
        rid = row["image_id"]
        if not (rid and rid.startswith("img-") and rid[4:].isdigit()):
            out.add((rid, "/image_id"))
            continue
        j = int(rid[4:])
        drifted = (j % cfg.n_parts) == cfg.drift_part
        w0, h0 = FX.dims_for(j, drifted)
        expected_px = FX.pixels_for(j, w0, h0)
        try:
            got = codecs.decode(
                bytes(row["bytes"]), row["fmt"] if row["fmt"] in ("png", "bmp") else "raw",
                w0, h0)
            p = codecs.psnr(expected_px, got)
        except Exception:
            out.add((rid, "/bytes"))
            continue  # engine semantics: decode error short-circuits the row
        if p < 40.0:
            out.add((rid, "/bytes"))
        if row["caption"] != FX.caption_for(j, doubled=drifted):
            out.add((rid, "/caption"))
    return out


# ------------------------------------------------------- hot-shingle skew guard

def test_hot_shingle_cut_bounds_bucket_size(spark):
    """A degenerate shingle shared by every doc makes a quadratic join bucket;
    the default cut removes it while distinctive shingles survive."""
    from jsonschema_spark.operators.dedup import shingles, ngram_jaccard_pairs

    rows = [(i, f"common stop words unique{i} token{i} extra{i}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingles(df)
    hot = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("f")) \
        .agg(F.max("f").alias("m")).collect()[0].m
    assert hot == 300  # "common stop words" appears in every doc

    pairs = ngram_jaccard_pairs(df, threshold=0.01, max_shingle_freq=100)
    # with the guard, the only surviving shingles are per-doc unique → no pairs
    assert pairs.count() == 0
    # without the guard the hot shingle induces ~n^2/2 candidate pairs
    pairs_unguarded = ngram_jaccard_pairs(df, threshold=0.01, max_shingle_freq=None)
    assert pairs_unguarded.count() == 300 * 299 // 2


# ----------------------------------------------------- sort-merge fallback B12

def test_sort_merge_fallback_strategy(spark, sf_med):
    from jsonschema_spark.passes.referential import orphan_rows

    cust = spark.read.parquet(f"{sf_med}/customer.parquet")
    nat = spark.read.parquet(f"{sf_med}/nation.parquet").where(F.col("n_nationkey") < 20)
    merge = orphan_rows(cust, nat, "c_nationkey", "n_nationkey", strategy="merge")
    bcast = orphan_rows(cust, nat, "c_nationkey", "n_nationkey", strategy="broadcast")
    assert "SortMergeJoin" in merge._jdf.queryExecution().sparkPlan().toString()
    a = sorted(r.c_custkey for r in merge.select("c_custkey").collect())
    b = sorted(r.c_custkey for r in bcast.select("c_custkey").collect())
    assert a == b and len(a) > 0


# ------------------------------------------------- union types & JSON payloads

def test_union_type_json_payload(spark):
    """{"type":["integer","string"]} must accept both forms — the payload
    parses as string (not type[0]=Long, which nulled out valid strings and
    fabricated required violations). E1 agrees."""
    from jsonschema_spark.local import validate

    spec = {"type": "object",
            "properties": {"k": {"type": ["integer", "string"]}},
            "required": ["k"]}
    df = spark.createDataFrame(
        [(1, '{"k": "abc"}'), (2, '{"k": 42}'), (3, '{"x": 1}')],
        "id long, props string")
    got = {(r.id, r.keyword) for r in
           validate_json_rows(df, "props", spec, keys=["id"]).collect()}
    assert got == {(3, "required")}
    assert validate({"k": "abc"}, spec) == []
    assert validate({"k": 42}, spec) == []


def test_numeric_union_parses_as_double(spark):
    spec = {"type": "object",
            "properties": {"k": {"type": ["integer", "number"], "minimum": 10}}}
    df = spark.createDataFrame(
        [(1, '{"k": 3.5}'), (2, '{"k": 50}'), (3, '{"k": 12.25}')],
        "id long, props string")
    got = {(r.id, r.keyword) for r in
           validate_json_rows(df, "props", spec, keys=["id"]).collect()}
    assert got == {(1, "minimum")}


def test_non_object_payloads(spark):
    """draft-4: object keywords apply only to objects — a valid scalar payload
    yields NO required violation; type:object specs yield a type violation;
    malformed JSON always yields a type violation."""
    spec_plain = {"properties": {"k": {"type": "integer"}}, "required": ["k"]}
    spec_obj = {"type": "object", "properties": {"k": {"type": "integer"}},
                "required": ["k"]}
    df = spark.createDataFrame(
        [(1, "42"), (2, '"hello"'), (3, "[1,2]"), (4, '{"k": 1}'),
         (5, "{bad json"), (6, None)],
        "id long, props string")
    got_plain = {(r.id, r.keyword) for r in
                 validate_json_rows(df, "props", spec_plain, keys=["id"]).collect()}
    assert got_plain == {(5, "type")}
    got_obj = {(r.id, r.keyword) for r in
               validate_json_rows(df, "props", spec_obj, keys=["id"]).collect()}
    assert got_obj == {(1, "type"), (2, "type"), (3, "type"), (5, "type")}


# ---------------------------------------------------- recursive $ref schemas

LINKED_LIST = {
    "definitions": {"node": {
        "type": "object",
        "properties": {"v": {"type": "integer", "minimum": 0},
                       "next": {"$ref": "#/definitions/node"}},
        "required": ["v"],
    }},
    "$ref": "#/definitions/node",
}


def test_recursive_ref_unrolls_instead_of_erroring():
    """A22 delta closed: cyclic $refs parse (bounded unroll) and validate
    exactly to RECURSIVE_UNROLL levels; deeper tails accept permissively."""
    from jsonschema_spark.local import validate
    from jsonschema_spark.spec import parse, RECURSIVE_UNROLL

    parse(LINKED_LIST)  # must not raise

    def chain(n, bad_at=None):
        doc = cur = {"v": 0}
        for i in range(1, n):
            cur["next"] = {"v": -1 if i == bad_at else i}
            cur = cur["next"]
        return doc

    assert validate(chain(5), LINKED_LIST) == []
    viols = validate(chain(5, bad_at=3), LINKED_LIST)
    assert [v.keyword for v in viols] == ["minimum"]
    # violation deeper than the unroll limit is permissively accepted
    deep = chain(RECURSIVE_UNROLL + 5, bad_at=RECURSIVE_UNROLL + 3)
    assert validate(deep, LINKED_LIST) == []
    # ...but violations above the cut are still caught in deep documents
    deep2 = chain(RECURSIVE_UNROLL + 5, bad_at=2)
    assert [v.keyword for v in validate(deep2, LINKED_LIST)] == ["minimum"]


# ------------------------------------------- vectorized batch-path equivalence

def test_phash64_batch_matches_scalar():
    rng = np.random.default_rng(7)
    for (h, w) in [(16, 16), (33, 47), (8, 64)]:
        stack = rng.integers(0, 256, size=(9, h, w, 3), dtype=np.uint8)
        batch = FX.phash64_batch(stack)
        scalar = np.array([FX.phash64(stack[i]) for i in range(9)], dtype=np.int64)
        assert (batch == scalar).all()


def test_image_features_vectorized_raw_matches_reference(spark):
    """The reduceat-vectorized raw path must produce the same features as
    direct per-image numpy (means exact, std to float tolerance)."""
    from jsonschema_spark.operators.multimodal import image_features
    from jsonschema_spark.functions import imagecodecs as codecs

    rng = np.random.default_rng(3)
    rows, ref = [], {}
    for i in range(12):
        h, w = int(rng.integers(4, 40)), int(rng.integers(4, 40))
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        fmt = ["raw", "png", "bmp"][i % 3]
        rows.append((f"im{i}", bytearray(codecs.encode(px, fmt)), fmt, w, h))
        gray = px.mean(axis=2)
        ref[f"im{i}"] = (px[:, :, 0].mean(), px[:, :, 1].mean(),
                         px[:, :, 2].mean(), gray.std())
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string, w int, h int")
    got = {r.image_id: r for r in image_features(df).collect()}
    assert len(got) == 12
    for k, (mr, mg, mb, sd) in ref.items():
        r = got[k]
        assert r.ok, r.err
        assert abs(r.mean_r - mr) < 1e-9 and abs(r.mean_g - mg) < 1e-9
        assert abs(r.mean_b - mb) < 1e-9
        assert abs(r.std_gray - sd) < 1e-6


def test_fidelity_images_golden(spark):
    """The fidelity pass over the with-bytes fixture (fraction 1.0) returns
    exactly the mirrored planted violation set (golden count pinned by
    recomputation, not by hand)."""
    from jsonschema_spark.passes.fidelity import fidelity_violations

    cfg = FX.FixtureConfig(n=2000, n_parts=16, with_bytes=True)
    fact = FX.generate_images_df(spark, cfg)
    got = {(r.row_key, r.path)
           for r in fidelity_violations(fact, cfg, fraction=1.0).collect()}
    assert got == expected_fidelity(cfg)
    assert len(got) > 0
