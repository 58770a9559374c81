"""Table-level golden tests (SURVEY.md §5.2).

The deterministic fixture generator plants exact violations; the expected
violation set is recomputed driver-side in pure Python from the SAME
``make_row`` source of truth, then compared with the Spark four-pass suite.
This is a full differential of validate_table, not hand-counted goldens.
"""

from __future__ import annotations

from collections import Counter

import pytest

from jsonschema_spark import fixtures as FX
from jsonschema_spark.engine import validate_table
from jsonschema_spark.local import validate
from jsonschema_spark.passes.drift import baseline_profile

CFG = FX.FixtureConfig(n=2000, n_parts=16, with_bytes=False)

ROW_KEYWORDS = {"type", "pattern", "minLength", "maxLength", "minimum",
                "maximum", "enum", "required", "format", "multipleOf"}


def expected_rows():
    plan = FX.build_plan(CFG)
    return [FX.make_row(i, CFG, plan) for i in range(CFG.n)]


# Stub P5/P7 streams: per pass, partition -> (keyword, path) of each row it
# emits. The rows use the passes' own keywords and paths, which differ from
# the pass's one check, so its verdict must count every row of the pass.
STUB_STREAMS = {
    "fidelity": {1: [("fidelity", "/bytes")] * 2 + [("fidelity", "/caption")],
                 5: [("fidelity", "/image_id")]},
    "headers": {2: [("header-magic", "/bytes"), ("header-fmt", "/fmt")],
                5: [("header-len", "/bytes")] * 3},
}


def stub_stream(spark, pass_id: str):
    rows = [(part, f"{pass_id}-{part}-{i}", kw, path, "stub")
            for part, viols in STUB_STREAMS[pass_id].items()
            for i, (kw, path) in enumerate(viols)]
    return spark.createDataFrame(
        rows, "part_id int, row_key string, keyword string, path string, value string")


def row_to_doc(row: dict) -> dict:
    doc = {}
    for k, v in row.items():
        if k in ("bytes", "part_id"):
            continue
        if v is not None:
            doc[k] = v
    if row["bytes"] is not None:
        doc["bytes"] = "<binary>"
    return doc


@pytest.fixture(scope="module")
def result(spark):
    fact = FX.generate_images_df(spark, CFG)
    clean = FX.generate_images_df(
        spark, FX.FixtureConfig(n=CFG.n, n_parts=CFG.n_parts, plants=False,
                                with_bytes=False, drift_part=-1)
    )
    res = validate_table(
        fact,
        FX.SPEC_IMAGES,
        dims={"dim_fmt": FX.dim_fmt_df(spark),
              "dim_license": FX.dim_license_df(spark, CFG)},
        baseline=baseline_profile(clean, FX.drift_columns()),
        fidelity_fn=lambda _: stub_stream(spark, "fidelity"),
        headers_fn=lambda _: stub_stream(spark, "headers"),
    )
    return res


@pytest.fixture(scope="module")
def spark_violations(result):
    return [
        (r.row_key, r.keyword, r.path)
        for r in result.violations.select("row_key", "keyword", "path").collect()
    ]


def test_row_violations_match_local_evaluator(spark_violations):
    """P1 differential: Spark row checks == E1 evaluator on every row."""
    expected = set()
    for row in expected_rows():
        doc = row_to_doc(row)
        for v in validate(doc, FX.SPEC_IMAGES):
            expected.add((row["image_id"], v.keyword, v.path))
    got = {(rk, kw, p) for rk, kw, p in spark_violations if kw in ROW_KEYWORDS}
    assert got == expected
    assert len(expected) > 0  # plants guarantee a non-empty golden set


def test_uniqueness_violations_exact(spark_violations):
    rows = expected_rows()
    for key, path in (("image_id", "/image_id"), ("phash", "/phash")):
        counts = Counter(r[key] for r in rows)
        expected = Counter(
            r["image_id"] for r in rows if counts[r[key]] > 1
        )
        got = Counter(rk for rk, kw, p in spark_violations
                      if kw == "uniqueItems" and p == path)
        assert got == expected, f"uniqueness mismatch on {key}"
        assert sum(expected.values()) >= 2 * int(CFG.n * CFG.rate_dup_id)


def test_referential_violations_exact(spark_violations):
    rows = expected_rows()
    plan = FX.build_plan(CFG)

    expected_fmt = {r["image_id"] for r in rows if r["fmt"] not in FX.FMTS}
    got_fmt = {rk for rk, kw, p in spark_violations
               if kw == "references" and p == "/fmt->dim_fmt.fmt"}
    assert got_fmt == expected_fmt
    assert len(expected_fmt) == int(CFG.n * CFG.rate_orphan_fmt)

    licensed = {f"img-{i:012d}" for i in range(CFG.n)} - {
        f"img-{i:012d}" for i in plan.orphan_license
    }
    expected_lic = Counter(
        r["image_id"] for r in rows if r["image_id"] not in licensed
    )
    got_lic = Counter(rk for rk, kw, p in spark_violations
                      if kw == "references" and p == "/image_id->dim_license.image_id")
    assert got_lic == expected_lic


def test_drift_flags_only_the_drifted_partition(result):
    dm = {(r.part_id, r["col"]): r for r in result.drift_metrics.collect()}
    drift_part = CFG.drift_part
    # planted drift: w shifted +32 and caption length doubled on one partition
    for col in ("w", "caption_len"):
        drifted = dm[(drift_part, col)]
        clean_ds = [dm[(p, col)].ks_d for p in range(CFG.n_parts) if p != drift_part]
        assert drifted.ks_d > 3 * max(clean_ds), (
            f"{col}: drifted KS {drifted.ks_d} not separated from clean {max(clean_ds)}"
        )


def test_verdict_matrix_consistency(result, spark_violations):
    """Every failed verdict's count equals the violation rows for that check;
    passed verdicts have zero violations. Each single-check pass has exactly
    one verdict row per (partition, check), counting that pass's stream rows
    in the partition; every partition P6 did not flag gets one passing
    ``anomaly@`` row."""
    parts = set(range(CFG.n_parts))
    by_part = Counter()
    by_pass = Counter()
    for r in result.violations.collect():
        by_part[(r.part_id, r.keyword, r.path)] += 1
        by_pass[(r.pass_id, r.part_id)] += 1
    verdicts = result.verdicts.collect()
    for v in verdicts:
        if v.keyword in ("drift", "anomaly", "quantile", "distinct", "null-rate"):
            # partition/table-level checks: verdicts exist, row violations
            # don't (null-rate's n_violations is the null COUNT, not rows)
            continue
        if v.pass_id in ("fidelity", "headers"):
            # one check per pass: it counts every row its pass emitted
            n = by_pass.get((v.pass_id, v.part_id), 0)
        else:
            n = by_part.get((v.part_id, v.keyword, v.path), 0)
        assert v.n_violations == n, (v.check_id, v.part_id, v.n_violations, n)
        assert v.passed == (n == 0)

    grid = Counter((v.pass_id, v.check_id, v.part_id) for v in verdicts
                   if v.pass_id in ("unique", "refs", "fidelity", "headers"))
    checks = {
        "unique": {"uniqueItems@/image_id", "uniqueItems@/phash"},
        "refs": {"references@/fmt->dim_fmt.fmt",
                 "references@/image_id->dim_license.image_id"},
        "fidelity": {"fidelity@/"},
        "headers": {"headers@/bytes"},
    }
    want = {(pid, cid, p) for pid, cids in checks.items() for cid in cids for p in parts}
    assert set(grid) == want
    assert set(grid.values()) == {1}
    for pass_id, per_part in STUB_STREAMS.items():
        for p, viols in per_part.items():
            assert by_pass[(pass_id, p)] == len(viols)

    flagged = {v.part_id for v in verdicts
               if v.pass_id == "anomaly" and not v.passed}
    healthy = Counter(v.part_id for v in verdicts if v.check_id == "anomaly@")
    assert healthy == Counter(parts - flagged)
    for v in verdicts:
        if v.check_id == "anomaly@":
            assert (v.keyword, v.path, v.passed, v.n_violations) == ("anomaly", "/", True, 0)
    assert healthy, "no healthy partition to pin"


def test_salted_equals_plain_uniqueness(spark):
    """SURVEY §5.4 property: the salted two-stage aggregation and the plain
    single-stage aggregation find identical duplicate sets."""
    from jsonschema_spark.passes.uniqueness import duplicate_keys

    df = spark.createDataFrame([(i % 7,) for i in range(100)] + [(99,)], "k long")
    plain = {(r.k, r.n_dups) for r in duplicate_keys(df, ["k"]).collect()}
    salted = {(r.k, r.n_dups) for r in duplicate_keys(df, ["k"], salt_buckets=8).collect()}
    assert plain == salted
    assert plain == {(i, 15 if i < 2 else 14) for i in range(7)}


def test_stats_never_touch_bytes(result):
    assert result.stats is not None
    cols = {r.column for r in result.stats.select("column").distinct().collect()}
    assert "bytes" not in cols
    stats = {(r.part_id, r.column): r for r in result.stats.collect()}
    rows = expected_rows()
    # spot-check one partition's w min/max against driver-side recomputation
    part0 = [r["w"] for r in rows if r["part_id"] == 0 and r["w"] is not None]
    s = stats[(0, "w")]
    assert int(s.min_val) == min(part0)
    assert int(s.max_val) == max(part0)
    assert s.n_rows == len([r for r in rows if r["part_id"] == 0])
