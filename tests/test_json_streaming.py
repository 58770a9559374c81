"""JSON-payload validation (B25/A15), verdict rollup (B17), and the
Structured-Streaming variants (B26)."""

from __future__ import annotations

import json
import time

import pytest

from jsonschema_spark.engine import rollup_verdicts, validate_json_rows
from jsonschema_spark.local import validate as validate_local
from jsonschema_spark import streaming as S


JSON_SPEC = {
    "type": "object",
    "properties": {
        "k": {"type": "integer", "minimum": 10},
        "tag": {"type": "string", "pattern": "^t-"},
        "nested": {"properties": {"x": {"maximum": 5}}},
    },
    "required": ["k"],
}

JSON_ROWS = [
    (0, json.dumps({"k": 15, "tag": "t-a"})),                 # valid
    (1, json.dumps({"k": 3})),                                # minimum
    (2, json.dumps({"tag": "t-b"})),                          # required /k
    (3, json.dumps({"k": 20, "tag": "oops"})),                # pattern /tag
    (4, json.dumps({"k": 12, "nested": {"x": 9}})),           # maximum /nested/x
    (5, "{not valid json"),                                   # malformed → type@root
    (6, None),                                                # null payload → no checks
    (7, json.dumps({"k": 11, "nested": {"x": 2}})),           # valid nested
]


def test_validate_json_rows(spark):
    df = spark.createDataFrame(JSON_ROWS, "id long, props string")
    got = {(r.id, r.keyword, r.path)
           for r in validate_json_rows(df, "props", JSON_SPEC, keys=["id"]).collect()}
    assert got == {
        (1, "minimum", "/k"),
        (2, "required", "/k"),
        (3, "pattern", "/tag"),
        (4, "maximum", "/nested/x"),
        (5, "type", ""),
    }


def test_validate_json_rows_agrees_with_local(spark):
    """Differential: parsed-JSON verdicts equal the E1 evaluator's."""
    df = spark.createDataFrame(JSON_ROWS, "id long, props string")
    bad = {r.id for r in validate_json_rows(df, "props", JSON_SPEC, ["id"]).collect()}
    for i, payload in JSON_ROWS:
        if payload is None:
            assert i not in bad
            continue
        try:
            doc = json.loads(payload)
        except json.JSONDecodeError:
            assert i in bad
            continue
        assert (len(validate_local(doc, JSON_SPEC)) > 0) == (i in bad), (i, payload)


def test_x_json_payload_column_in_table_spec(spark):
    """Engine extension x-json: a table-spec property marked x-json is a
    JSON-STRING column compiled by the same compile_json_node as
    validate_json_rows — parsed once with from_json, every keyword runs on
    the parsed value, scoped to one column of a wider table. Malformed,
    array and scalar payloads give one type row and no required row, for a
    map-parsed and a struct-parsed subschema alike."""
    from jsonschema_spark.engine import validate_rows
    from jsonschema_spark.compile_spark import compile_table, CompileError
    from jsonschema_spark import spec as specmod

    rows = [(1, 5, '{"x_a": 1}'), (2, 5, '{"x_a": 1, "rogue": 2}'),
            (3, 5, "not json"), (4, 5, "[1, 2]"), (5, 5, None), (6, 5, "42"),
            (7, 5, '{"rogue": 2}')]
    df = spark.createDataFrame(rows, "id int, w int, props string")
    bad_payloads = [(3, "type", "/props"), (4, "type", "/props"),
                    (6, "type", "/props")]
    cases = [
        # patternProperties only: parsed as a map, so unevaluatedProperties
        # sees every key
        ({"type": "object", "patternProperties": {"^x_": {}},
          "unevaluatedProperties": False, "required": ["x_a"]},
         [(2, "unevaluatedProperties", "/props"), *bad_payloads,
          (7, "required", "/props/x_a"), (7, "unevaluatedProperties", "/props")]),
        # named properties: parsed as a struct, which PERMISSIVE from_json
        # fills with nulls for a non-object payload
        ({"type": "object", "properties": {"x_a": {"type": "integer"}},
          "required": ["x_a"]},
         [*bad_payloads, (7, "required", "/props/x_a")]),
    ]
    for sub, want in cases:
        spec = {"properties": {"w": {"minimum": 0},
                               "props": {"x-json": True, **sub}}}
        got = sorted((r["id"], r["keyword"], r["path"])
                     for r in validate_rows(df, spec, keys=["id"]).collect())
        assert got == want
        # the same subschema over the bare payload column: the same rows,
        # with paths rooted at "" instead of "/props"
        whole = sorted((r["id"], r["keyword"], "/props" + r["path"])
                       for r in validate_json_rows(df, "props", sub, ["id"]).collect())
        assert whole == got

    # x-json on a non-string column fails fast at compile time
    with pytest.raises(CompileError, match="x-json"):
        compile_table(specmod.parse(
            {"properties": {"w": {"x-json": True, "type": "object"}}}), df.schema)


def test_rollup_verdicts(spark):
    rows = [
        (0, "minimum@/w", "minimum", "/w", True, 0),
        (1, "minimum@/w", "minimum", "/w", False, 3),
        (0, "enum@/fmt", "enum", "/fmt", True, 0),
        (1, "enum@/fmt", "enum", "/fmt", True, 0),
    ]
    v = spark.createDataFrame(
        rows, "part_id int, check_id string, keyword string, path string, "
              "passed boolean, n_violations long")
    out = rollup_verdicts(v).collect()
    per_part = {(r.part_id, r.check_id): r for r in out if r.part_id is not None}
    glob = {r.check_id: r for r in out if r.part_id is None}
    assert len(out) == 6
    assert per_part[(1, "minimum@/w")].n_violations == 3
    assert glob["minimum@/w"].passed is False and glob["minimum@/w"].n_violations == 3
    assert glob["enum@/fmt"].passed is True and glob["enum@/fmt"].n_violations == 0


# ------------------------------------------------------------------ streaming

def _run_stream(q):
    q.processAllAvailable()
    q.stop()


def test_validate_stream(spark, tmp_path):
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    spark.createDataFrame(
        [(1, 5.0), (2, 50.0), (3, None)], "id long, value double"
    ).write.parquet(str(src))
    stream = spark.readStream.schema("id long, value double").parquet(str(src))
    viols = S.validate_stream(
        stream, {"properties": {"value": {"minimum": 10}}, "required": ["value"]},
        keys=["id"],
    )
    assert viols.isStreaming
    q = (viols.writeStream.format("memory").queryName("v_out")
         .outputMode("append").start())
    _run_stream(q)
    got = {(r.id, r.keyword) for r in spark.sql("SELECT * FROM v_out").collect()}
    assert got == {(1, "minimum"), (3, "required")}


def test_windowed_stats_stream(spark, tmp_path):
    from pyspark.sql import functions as F

    src = tmp_path / "src2"
    df = spark.createDataFrame(
        [(1, 5.0, "2024-01-01 00:00:10"), (2, 50.0, "2024-01-01 00:00:20"),
         (3, None, "2024-01-01 00:01:10"), (4, 7.0, "2024-01-01 00:01:30")],
        "id long, value double, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    df.write.parquet(str(src))
    stream = spark.readStream.schema("id long, value double, ts timestamp").parquet(str(src))
    stats = S.windowed_stats_stream(stream, ["value"], ts_col="ts", window="1 minute")
    # complete mode: emit every window each trigger (append would wait for
    # the watermark to close a window, which a finite source never advances)
    q = (stats.writeStream.format("memory").queryName("s_out")
         .outputMode("complete").start())
    _run_stream(q)
    rows = {r.win.start.strftime("%H:%M"): r for r in spark.sql("SELECT * FROM s_out").collect()}
    assert rows["00:00"].value_min == "5.0" and rows["00:00"].value_max == "50.0"
    assert rows["00:00"].value_count == 2
    assert rows["00:01"].value_count == 1 and rows["00:01"].value_nulls == 1


def test_drift_state_stream(spark, tmp_path):
    from pyspark.sql import functions as F

    src = tmp_path / "src3"
    # two files → maxFilesPerTrigger=1 forces two micro-batches: state must
    # carry bucket counts across batches
    spark.createDataFrame(
        [(1, 5.0, "a"), (2, 50.0, "a")], "id long, value double, grp string"
    ).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [(3, 55.0, "a"), (4, 200.0, "b")], "id long, value double, grp string"
    ).write.parquet(str(src / "f2"))
    stream = (spark.readStream.schema("id long, value double, grp string")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src / "*")))
    hist = S.drift_state_stream(stream, "value", "grp", lo=0.0, hi=100.0, buckets=10)
    q = (hist.writeStream.format("memory").queryName("h_out")
         .outputMode("update").start())
    _run_stream(q)
    last = {}
    for r in spark.sql("SELECT * FROM h_out").collect():
        last[(r.grp, r.bucket)] = max(last.get((r.grp, r.bucket), 0), r.n)
    # group a: 5.0 → bucket 1, 50.0 and 55.0 → bucket 6 (accumulated across batches)
    assert last[("a", 1)] == 1
    assert last[("a", 6)] == 2
    # group b: 200 ≥ hi → overflow bucket 11
    assert last[("b", 11)] == 1


def test_streaming_histograms_feed_divergence_metrics(spark, tmp_path):
    """End-to-end incremental drift: drift_state_stream's emitted histogram
    rows are exactly the (part_id, col, bucket, n) shape drift_metrics /
    divergence_metrics consume — a foreachBatch sink can score drift each
    micro-batch with zero re-aggregation."""
    from pyspark.sql import functions as F

    from jsonschema_spark.passes.drift import divergence_metrics

    src = tmp_path / "src4"
    spark.createDataFrame(
        [(i, float(i % 10) * 10, "a") for i in range(40)]
        + [(100 + i, 95.0, "b") for i in range(40)],
        "id long, value double, grp string",
    ).write.parquet(str(src / "f1"))
    stream = (spark.readStream.schema("id long, value double, grp string")
              .parquet(str(src / "*")))
    hist = S.drift_state_stream(stream, "value", "grp", lo=0.0, hi=100.0, buckets=10)
    q = (hist.writeStream.format("memory").queryName("div_out")
         .outputMode("update").start())
    _run_stream(q)

    obs = (spark.sql("SELECT * FROM div_out")
           .groupBy("grp", "bucket").agg(F.max("n").alias("n"))
           .select(F.col("grp").alias("part_id"), F.lit("value").alias("col"),
                   F.col("bucket").cast("string").alias("bucket"), "n"))
    # baseline = uniform over buckets 1..10
    base = spark.createDataFrame(
        [("value", str(b), 0.1) for b in range(1, 11)],
        "col string, bucket string, p_expected double")
    m = {r["part_id"]: r for r in divergence_metrics(obs, base).collect()}
    # group a is uniform over the 10 buckets → near-zero distances;
    # group b is a point mass in one bucket → strong drift on every metric
    assert m["a"]["tvd"] < 0.05
    assert m["b"]["tvd"] > 0.8
    assert m["b"]["jsd"] > m["a"]["jsd"]
    assert m["b"]["chi2_p"] < 0.001


def test_windowed_stats_stream_with_quantiles(spark, tmp_path):
    """Streaming KLL sketches (B42 analogue): per-window binary state that
    merges with the batch rollup — merged quantiles over all windows equal
    the exact values (kll_k above the row count)."""
    from pyspark.sql import functions as F
    from jsonschema_spark.passes.stats import merge_quantiles

    src = tmp_path / "srcq"
    rows = [(i, float(i), f"2024-01-01 00:0{i % 2}:15") for i in range(100)]
    df = spark.createDataFrame(rows, "id long, value double, ts_s string") \
        .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    df.write.parquet(str(src))
    stream = spark.readStream.schema("id long, value double, ts timestamp") \
        .parquet(str(src))
    stats = S.windowed_stats_stream(stream, ["value"], ts_col="ts",
                                    window="1 minute", with_quantiles=True,
                                    kll_k=2048)
    q = (stats.writeStream.format("memory").queryName("q_out")
         .outputMode("complete").start())
    _run_stream(q)
    out = spark.sql("SELECT * FROM q_out")
    assert "value_kll" in out.columns
    # the window sketches merge through the SAME batch rollup surface
    merged = merge_quantiles(
        out.select(F.lit("value").alias("column"),
                   F.col("value_kll").alias("kll_sketch")))
    got = merged.collect()[0]
    # inclusive rank over 0..99: q50 -> 49, q90 -> 89, q99 -> 98
    assert (got["q50"], got["q90"], got["q99"]) == (49.0, 89.0, 98.0)


def test_incremental_dedup_stream_sees_earlier_batches(spark, tmp_path):
    """Ingestion dedup across micro-batches: batch 2's near-dup of a batch-1
    doc is caught ONLY because batch 1's bucket rows were appended to the
    persisted index between triggers."""
    from pyspark.sql import functions as F
    from jsonschema_spark.operators.dedup import minhash_band_buckets, minhash_signatures

    base = " ".join(f"w{i}" for i in range(40))
    seed = spark.createDataFrame([(1, base + " seed")], "doc_id long, text string")
    idx_path = str(tmp_path / "index")
    # bootstrap: the pre-existing corpus index
    minhash_band_buckets(minhash_signatures(seed), 64, 16) \
        .write.parquet(idx_path)

    src = tmp_path / "src"
    spark.createDataFrame([(2, base + " batch one")], "doc_id long, text string") \
        .write.parquet(str(src / "f1"))
    spark.createDataFrame([(3, base + " batch one two")], "doc_id long, text string") \
        .write.parquet(str(src / "f2"))
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))

    q = S.incremental_dedup_stream(
        stream, idx_path, str(tmp_path / "hits"), str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    hits = spark.read.parquet(str(tmp_path / "hits"))
    pairs = {(min(r.id_new, r.id_other), max(r.id_new, r.id_other))
             for r in hits.collect()}
    # doc2 vs seed(1); doc3 vs seed(1) AND vs doc2 — the (2,3) pair exists
    # only because doc2's index rows were appended before doc3's trigger
    assert (1, 2) in pairs and (2, 3) in pairs
    assert spark.read.parquet(idx_path).select("id").distinct().count() == 3
