"""Round-3 regression tests: JSON-whitespace object classification, LSH dim
inference, hot-shingle-cut visibility, pathological-uniqueness join strategy,
and the iceberg-swap choke point. Its ``job.py`` tests live in
``test_job.py``.
"""

from __future__ import annotations

import json
import logging
import math
import os
import re

import pytest
from pyspark.sql import functions as F

from jsonschema_spark.engine import validate_json_rows
from jsonschema_spark.operators import dedup, similarity
from jsonschema_spark.passes.uniqueness import uniqueness_violations


# ------------------------------------------------- JSON whitespace (ADVICE r2)

def test_json_payload_with_leading_whitespace_is_object(spark):
    """Valid JSON may lead with any of space/tab/CR/LF; all four forms must
    classify as objects so compiled checks run (ltrim strips spaces only,
    which silently skipped every check for '\\n{...}' payloads)."""
    spec = {"properties": {"k": {"type": "integer", "minimum": 10}},
            "required": ["k"]}
    rows = [
        (1, '{"k": 5}'),        # plain: minimum violation
        (2, '\n{"k": 5}'),      # LF-prefixed: SAME minimum violation
        (3, '\t{"k": 5}'),      # tab-prefixed
        (4, '\r\n {"k": 5}'),   # CRLF+space
        (5, ' {"k": 50}'),      # space-prefixed, valid
        (6, '\n42'),            # LF-prefixed non-object: skip object keywords
    ]
    df = spark.createDataFrame(rows, "id int, props string")
    out = validate_json_rows(df, "props", spec, keys=["id"]).collect()
    got = {(r.id, r.keyword) for r in out}
    assert got == {(1, "minimum"), (2, "minimum"), (3, "minimum"), (4, "minimum")}


def test_json_object_spec_rejects_whitespace_prefixed_scalar(spark):
    """With {"type": "object"} a '\\n42' payload is a root type violation —
    not misrouted through the compiled object checks."""
    spec = {"type": "object", "properties": {"k": {"minimum": 10}}}
    df = spark.createDataFrame([(1, "\n42")], "id int, props string")
    out = validate_json_rows(df, "props", spec, keys=["id"]).collect()
    assert [(r.id, r.keyword, r.path) for r in out] == [(1, "type", "")]


# ------------------------------------------------------- LSH dim inference

def _vec_df(spark, dim: int, n: int = 40):
    import numpy as np

    rng = np.random.default_rng(5)
    base = rng.standard_normal((n, dim))
    rows = [(i, base[i].tolist()) for i in range(n)]
    # plant near-dup copies of the first 5 vectors
    rows += [(i + 1000, (base[i] * 0.999 + 0.0001).tolist()) for i in range(5)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_embedding_near_dups_infers_non64_dim(spark):
    """dim is derived from the data: a 16-dim corpus must still bucket
    correctly (a hardcoded 64 would NULL every dot product, collapse all
    vectors into one bucket, and silently cross-join)."""
    df = _vec_df(spark, dim=16)
    got = dedup.embedding_near_duplicates(df, threshold=0.98)
    pairs = {(r.id_a, r.id_b) for r in got.collect()}
    assert {(i, i + 1000) for i in range(5)} <= pairs


def test_embedding_near_dups_rejects_wrong_dim(spark):
    df = _vec_df(spark, dim=16)
    with pytest.raises(ValueError, match="dim mismatch"):
        dedup.embedding_near_duplicates(df, threshold=0.98, dim=64)


def test_cosine_lsh_topk_infers_dim(spark):
    df = _vec_df(spark, dim=16)
    q = df.where(F.col("vec_id") < 2)
    exact = similarity.cosine_topk(df, q, k=3)
    approx = similarity.cosine_lsh_topk(df, q, k=3, planes=6, tables=8)
    ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    ap = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    # with dim inferred the buckets are real; recall on planted dups is 1
    assert (0, 1000) in ap and (1, 1001) in ap
    assert len(ex & ap) / len(ex) >= 0.5


# ------------------------------------------------ hot-shingle-cut visibility

def test_shingle_cut_logs_warning_when_removing(spark, caplog):
    """The results-changing hot-shingle cut must be visible: a corpus with a
    stop-shingle above the threshold logs the cut count (ADVICE r2)."""
    hot = "the quick fox"  # one shared 3-shingle across every doc
    rows = [(i, f"{hot} doc{i} unique{i} tail{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with caplog.at_level(logging.WARNING, logger="jsonschema_spark.operators.dedup"):
        dedup.ngram_jaccard_pairs(df, threshold=0.1, max_shingle_freq=10).collect()
    assert any("hot-shingle cut removed" in r.message for r in caplog.records)


def test_shingle_cut_silent_when_nothing_cut(spark, caplog):
    rows = [(i, f"alpha{i} beta{i} gamma{i} delta{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with caplog.at_level(logging.WARNING, logger="jsonschema_spark.operators.dedup"):
        dedup.ngram_jaccard_pairs(df, threshold=0.1, max_shingle_freq=10).collect()
    assert not any("hot-shingle cut" in r.message for r in caplog.records)


def test_shingle_cut_anti_join_matches_semi_join_semantics(spark):
    """The materialized-hot-set anti-join must keep exactly the shingles
    shared by at most max_shingle_freq docs."""
    from collections import Counter

    hot = "the quick fox"
    rows = [(i, f"{hot} doc{i} unique{i} tail{i} end{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cut = dedup._cut_hot_shingles(dedup.shingles(df), 10)
    got = sorted((r.id, r.shingle) for r in cut.collect())

    def grams(text):
        w = text.split()
        return {" ".join(w[j:j + 3]) for j in range(len(w) - 2)}

    freq = Counter(g for _, t in rows for g in grams(t))
    expected = sorted((i, g) for i, t in rows for g in grams(t) if freq[g] <= 10)
    assert freq[hot] == 30 and got == expected and len(got) > 0


# ----------------------------------------- pathological uniqueness (VERDICT 5)

def test_uniqueness_no_forced_broadcast_on_dup_heavy_table(spark):
    """A table where 50% of keys are duplicated makes the dup-key set
    fact-scale: the example-row recovery join must NOT hard-code a
    broadcast hint (AQE picks the strategy at runtime from the real size).
    """
    n = 20000
    df = spark.range(n).select(
        F.lit(0).alias("part_id"),
        F.concat(F.lit("row-"), F.col("id")).alias("image_id"),
        # ids 0..n/2 pair up (key = id % (n/2)) -> every key duplicated twice
        (F.col("id") % (n // 2)).alias("phash"),
    )
    v = uniqueness_violations(df, ["phash"], key_col="image_id")
    # 1) no static broadcast hint anywhere in the logical plan
    logical = v._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical
    # 2) result is still exact: every row participates in a duplicated key
    assert v.count() == n


# ---------------------------------------------- iceberg swap point (VERDICT 8)

def test_loader_is_the_single_fact_scan_choke_point(monkeypatch, spark, tmp_path):
    """io/tables.py is the ONLY place the fact-table storage format appears:
    (a) monkeypatching the loader's format table reroutes job.py's fact read
    (proving job.py goes through it), and (b) no other module issues
    spark.read.parquet on fact paths (grep assertion)."""
    import jsonschema_spark.io.tables as T

    calls = []
    real = T.load_fact_table

    def spy(sp, location, fmt=None, columns=None):
        calls.append((location, fmt))
        return real(sp, location, fmt="parquet", columns=columns)

    monkeypatch.setattr(T, "load_fact_table", spy)
    import jsonschema_spark.job as J

    monkeypatch.setattr(J, "load_fact_table", spy)

    from jsonschema_spark import fixtures as FX

    cfg = FX.FixtureConfig(n=100, n_parts=2, with_bytes=False)
    table = str(tmp_path / "imgs")
    FX.generate_images_df(spark, cfg).write.parquet(table)
    spec_path = str(tmp_path / "spec.json")
    with open(spec_path, "w") as f:
        json.dump({"required": ["image_id"]}, f)
    J.run(["--table", table, "--spec", spec_path,
           "--manifest", str(tmp_path / "man"), "--out", str(tmp_path / "out"),
           "--table-format", "iceberg"], spark=spark)
    # the job passed its --table-format through the loader (the spy saw it);
    # nothing else read the fact path directly
    assert calls and calls[0] == (table, "iceberg")

    # static sweep: engine/job/passes never call spark.read.parquet on the
    # fact table — the only read.parquet sites are the loader itself, a
    # resume's read of the completed partitions' output, and dim/baseline
    # inputs.
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    offenders = []
    for dirpath, _, files in os.walk(os.path.join(root, "jsonschema_spark")):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            p = os.path.join(dirpath, fn)
            src = open(p).read()
            for i, line in enumerate(src.splitlines(), 1):
                if "read.parquet" in line:
                    offenders.append((os.path.relpath(p, root), i, line.strip()))
    allowed = {
        "jsonschema_spark/io/tables.py",     # the choke point itself
        "jsonschema_spark/job.py",           # dims/baseline/resume prior-state reads only
        "jsonschema_spark/manifest.py",      # manifest sink re-read
        # engine-owned LSH-index re-read (per-trigger, so appends are
        # visible) — an internal artifact like the manifest, not a fact scan
        "jsonschema_spark/streaming/validate.py",
    }
    bad = [o for o in offenders if o[0] not in allowed]
    assert not bad, f"unexpected fact-scan sites: {bad}"


# ------------------------------------- reference-driven fidelity (VERDICT 3)

def _raw_row(i, pid, w=8, h=8, caption=None, px_fill=None, phash=None):
    import numpy as np
    from jsonschema_spark import fixtures as FX

    rng = np.random.default_rng(i)
    px = (rng.integers(0, 256, (h, w, 3)).astype("uint8")
          if px_fill is None else np.full((h, w, 3), px_fill, dtype="uint8"))
    return {
        "image_id": f"prod-{i}", "bytes": px.tobytes(), "w": w, "h": h,
        "fmt": "raw", "caption": caption or f"caption {i}",
        "phash": int(phash) if phash is not None else FX.phash64(px),
        "part_id": pid,
    }


def _raw_table(spark, rows):
    from jsonschema_spark.fixtures import IMAGES_DDL

    return spark.createDataFrame(rows, IMAGES_DDL)


def test_fidelity_phash_mode_no_generator_coupling(spark):
    """phash mode runs on a table with ARBITRARY ids (prod-*, not img-*):
    recomputed-vs-stored phash catches exactly the corrupted rows."""
    from jsonschema_spark.passes.fidelity import fidelity_violations_phash

    rows = [_raw_row(i, i % 2) for i in range(20)]
    rows[3]["phash"] = rows[3]["phash"] ^ 1     # corrupt stored hash
    rows[7]["phash"] = rows[7]["phash"] + 42
    df = _raw_table(spark, rows)
    v = fidelity_violations_phash(df, fraction=1.0).collect()
    assert {r.row_key for r in v} == {"prod-3", "prod-7"}
    assert all(r.path == "/phash" for r in v)


def test_fidelity_ref_mode_planted_mismatches(spark):
    """ref mode: decoded-pixel PSNR + caption equality against a reference
    table — pixel corruption, caption drift, and a missing reference row
    each surface with their own path; clean rows are silent."""
    from jsonschema_spark.passes.fidelity import fidelity_violations_ref

    ref_rows = [_raw_row(i, i % 2) for i in range(12)]
    fact_rows = [dict(r) for r in ref_rows]
    fact_rows[2] = _raw_row(2, 0, px_fill=200)          # pixels differ -> PSNR fail
    fact_rows[5]["caption"] = "tampered"                # caption mismatch
    fact_rows.append(_raw_row(99, 1))                   # no reference row
    fact = _raw_table(spark, fact_rows)
    ref = _raw_table(spark, ref_rows)
    got = {(r.row_key, r.path) for r in
           fidelity_violations_ref(fact, ref, fraction=1.0).collect()}
    assert got == {("prod-2", "/bytes"), ("prod-5", "/caption"),
                   ("prod-99", "/image_id")}


def test_fidelity_ref_mode_identical_tables_clean(spark):
    from jsonschema_spark.passes.fidelity import fidelity_violations_ref

    rows = [_raw_row(i, 0) for i in range(10)]
    df = _raw_table(spark, rows)
    assert fidelity_violations_ref(df, df, fraction=1.0).count() == 0


def test_fidelity_phash_mode_null_stored_phash_is_violation(spark):
    """A NULL stored phash must surface as a fidelity violation, not crash
    the Arrow kernel on int64 conversion."""
    from jsonschema_spark.passes.fidelity import fidelity_violations_phash

    rows = [_raw_row(i, 0) for i in range(6)]
    rows[4]["phash"] = None
    df = _raw_table(spark, rows)
    v = fidelity_violations_phash(df, fraction=1.0).collect()
    assert [(r.row_key, r.path) for r in v] == [("prod-4", "/phash")]
    assert "stored=null" in v[0].value


# --------------------------- md5-oracle equivalence on pathological texts

PATHOLOGICAL_DOCS = [
    (1, ""),                          # empty
    (2, "   "),                       # whitespace-only (trims to empty)
    (3, "\t\n"),                      # mixed whitespace
    (4, "hello"),                     # single word (below shingle width)
    (5, "hello world"),               # two words (still below n=3)
    (6, "a a a a a"),                 # repeated single token
    (7, "one two three four"),        # minimal shingle-bearing doc
    (8, "one  two\tthree\nfour"),     # same words, messy separators
]


def _pathological_df(spark):
    return spark.createDataFrame(PATHOLOGICAL_DOCS, "doc_id int, text string")


def test_simhash_md5_oracle_on_pathological_texts(spark):
    """The sf0.01 documents table contains no degenerate texts, so the
    driver's simhash_md5 oracle row never exercises empty/whitespace-only/
    short docs. Pin the Spark-vs-DuckDB agreement there explicitly: both
    must tokenize ''/'   ' to a single empty token (split-after-trim
    semantics) and produce identical md5-driven signatures."""
    import duckdb

    md5h = lambda c: F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")  # noqa: E731
    got = {
        r["id"]: r["simhash"]
        for r in dedup.simhash_signatures(
            _pathological_df(spark), bits=60, hash_fn=md5h
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in PATHOLOGICAL_DOCS)
        + ") AS t(doc_id, text)"
    )
    want = dict(
        con.execute(
            """
            WITH w AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS wl
              FROM documents
            ),
            tok AS (
              SELECT doc_id, wl[i] AS tok
              FROM w, UNNEST(range(1, len(wl) + 1)) AS t(i)
            ),
            h AS (
              SELECT doc_id,
                     CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h
              FROM tok
            ),
            bit_sums AS (
              SELECT doc_id, b,
                     SUM(CASE WHEN ((h >> CAST(b AS INT)) & 1) = 1
                              THEN 1 ELSE -1 END) AS s
              FROM h, UNNEST(range(0, 60)) AS t(b)
              GROUP BY 1, 2
            )
            SELECT doc_id,
                   CAST(SUM(CASE WHEN s > 0
                                 THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
                                 ELSE 0 END) AS BIGINT) AS simhash
            FROM bit_sums GROUP BY 1
            """
        ).fetchall()
    )
    assert got == want
    assert set(got) == {i for i, _ in PATHOLOGICAL_DOCS}  # every doc signed


def test_minhash_md5_oracle_on_pathological_texts(spark):
    """MinHash drops docs below the shingle width (n=3) — in BOTH engines,
    and identically for messy separators. Docs 7/8 share normalized word
    sequences, so their md5-seeded minima must agree exactly."""
    import duckdb

    md5h = lambda c, k: F.conv(  # noqa: E731
        F.substring(F.md5(F.concat(F.lit(f"{k}:"), c)), 1, 15), 16, 10
    ).cast("long")
    got = {
        r["id"]: r["sig"]
        for r in dedup.minhash_signatures(
            _pathological_df(spark), num_hashes=8,
            max_shingle_freq=None, mix_fn=md5h,
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in PATHOLOGICAL_DOCS)
        + ") AS t(doc_id, text)"
    )
    rows = con.execute(
        """
        WITH w AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS wl
          FROM documents
        ),
        sh AS (
          SELECT DISTINCT doc_id, wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2] AS shingle
          FROM w, UNNEST(range(1, GREATEST(len(wl) - 1, 1))) AS t(i)
        ),
        mh AS (
          SELECT doc_id, k,
                 MIN(CAST(('0x' || substring(
                       md5(CAST(k AS VARCHAR) || ':' || shingle), 1, 15))
                     AS BIGINT)) AS mn
          FROM sh, UNNEST(range(0, 8)) AS t(k)
          GROUP BY 1, 2
        )
        SELECT doc_id, array_agg(mn ORDER BY k) AS sig FROM mh GROUP BY 1
        """
    ).fetchall()
    want = {doc_id: list(sig) for doc_id, sig in rows}
    assert got == want
    # short docs (< 3 words) have no shingles hence no signature — in both
    assert set(got) == {6, 7, 8}
    # messy separators normalize to the same words -> identical signatures
    assert got[7] == got[8]


# ---------------------- fidelity two-stage sample: partition-pruned IO

def test_fidelity_two_stage_sample_prunes_partitions(spark, tmp_path):
    """At north scale a plain row-sample still READS every bytes page (a
    random predicate prunes nothing). The two-stage cluster sample's
    partition predicate must reach the scan as a PartitionFilter on a
    part_id-partitioned table, violations must come only from kept
    partitions, and the within-partition fraction must be rescaled so the
    overall row fraction is preserved in expectation."""
    from jsonschema_spark import fixtures as FX
    from jsonschema_spark.passes.fidelity import fidelity_violations, sampled_slice

    cfg = FX.FixtureConfig(n=4000, n_parts=16, with_bytes=True)
    path = str(tmp_path / "imgs")
    FX.generate_images_df(spark, cfg).write.mode("overwrite") \
        .partitionBy("part_id").parquet(path)
    df = spark.read.parquet(path)

    s = sampled_slice(
        df.select("part_id", "image_id", "bytes", "fmt", "w", "h", "caption"),
        fraction=0.5, seed=7, part_col="part_id", parts_fraction=0.25,
    )
    plan = s._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "pmod(xxhash64(part_id" in scan  # pruned at the source, not post-scan
    kept = {r[0] for r in s.select("part_id").distinct().collect()}
    assert 0 < len(kept) < 16  # a strict subset of partitions

    v = fidelity_violations(df, cfg, fraction=0.5, parts_fraction=0.25)
    v_parts = {r[0] for r in v.select("part_id").distinct().collect()}
    assert v_parts <= kept

    # within-partition fraction is rescaled to fraction/parts_fraction so the
    # OVERALL fraction is preserved in expectation: at 0.05 overall with 1/4
    # of partitions kept, half the rows of each kept partition are sampled
    s2 = sampled_slice(
        df.select("part_id", "image_id", "bytes", "fmt", "w", "h", "caption"),
        fraction=0.05, seed=7, part_col="part_id", parts_fraction=0.25,
    )
    rows_kept = df.where(F.col("part_id").isin(*kept)).count()
    got = s2.count()
    want = (0.05 / 0.25) * rows_kept
    assert abs(got - want) < 0.35 * want


def test_sampled_slice_no_parts_fraction_is_plain_sample(spark):
    """parts_fraction=None keeps the original single-stage semantics."""
    from jsonschema_spark.passes.fidelity import sampled_slice

    df = spark.range(0, 1000).select(
        (F.col("id") % 10).cast("int").alias("part_id"), "id"
    )
    s = sampled_slice(df, fraction=0.3, seed=1, part_col="part_id")
    assert s.select("part_id").distinct().count() == 10  # all partitions kept
    n = s.count()
    assert abs(n - 300) < 100


# -------------------- single-expression LSH buckets == per-plane composition

def test_lsh_buckets_all_matches_per_plane_lsh_bucket(spark):
    """lsh_buckets_all (one F.expr, nested hyperplane tensor) must produce
    bit-identical packed signatures to the per-plane lsh_bucket composition
    it replaced — same math, thousands fewer driver->JVM calls."""
    import numpy as np

    from jsonschema_spark.operators.similarity import (
        _hyperplanes, lsh_bucket, lsh_buckets_all,
    )

    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    all_planes = [_hyperplanes(16, 9, seed=42 + t) for t in range(4)]

    old_cols = [
        lsh_bucket(F.col("v"), all_planes[t]).alias(f"t{t}") for t in range(4)
    ]
    old = {r["vec_id"]: [r[f"t{t}"] for t in range(4)]
           for r in df.select("vec_id", *old_cols).collect()}
    new = {
        r["vec_id"]: [e["bkt"] for e in sorted(r["e"], key=lambda x: x["tbl"])]
        for r in df.select("vec_id", lsh_buckets_all("v", all_planes).alias("e")).collect()
    }
    assert old == new


# -------------------- divergence metrics family (chi2/JSD/TVD/Hellinger/EMD)

def _div_rows(spark, obs_rows, base_rows):
    from jsonschema_spark.passes.drift import divergence_metrics

    obs = spark.createDataFrame(obs_rows, "part_id string, col string, bucket string, n long")
    base = spark.createDataFrame(base_rows, "col string, bucket string, p_expected double")
    return {(r["part_id"], r["col"]): r for r in divergence_metrics(obs, base).collect()}


def test_divergence_identical_distributions_near_zero(spark):
    """obs == baseline ⇒ every distance is ~0 and chi² is tiny (smoothing
    aside); WH p-value of a near-zero statistic is ~1 (no drift)."""
    obs = [("p0", "w", str(b), 100) for b in range(1, 5)]
    base = [("w", str(b), 0.25) for b in range(1, 5)]
    r = _div_rows(spark, obs, base)[("p0", "w")]
    assert abs(r["jsd"]) < 1e-9
    assert abs(r["tvd"]) < 1e-9
    assert abs(r["hellinger"]) < 1e-6
    assert abs(r["emd"]) < 1e-9
    assert r["chi2"] < 1e-6
    assert r["dof"] == 3
    assert r["chi2_p"] > 0.99


def test_divergence_planted_shift_orders_partitions(spark):
    """A shifted partition must dominate a matching one on every metric."""
    base = [("w", str(b), 0.25) for b in range(1, 5)]
    obs = (
        [("match", "w", str(b), 250) for b in range(1, 5)]
        + [("drift", "w", "1", 700), ("drift", "w", "2", 200),
           ("drift", "w", "3", 80), ("drift", "w", "4", 20)]
    )
    rows = _div_rows(spark, obs, base)
    m, d = rows[("match", "w")], rows[("drift", "w")]
    for k in ("chi2", "jsd", "tvd", "hellinger", "emd"):
        assert d[k] > m[k] + 1e-6, k
    assert d["chi2_p"] < 0.001 < m["chi2_p"]


def test_divergence_tvd_hellinger_closed_form(spark):
    """Two-bucket case with hand-computable values: p=(0.8,0.2) vs
    q=(0.5,0.5): TVD=0.3, Hellinger=sqrt(1-sqrt(.4)-sqrt(.1)),
    EMD=|0.8-0.5| (one interior CDF step)."""
    import math

    obs = [("p0", "w", "1", 80), ("p0", "w", "2", 20)]
    base = [("w", "1", 0.5), ("w", "2", 0.5)]
    r = _div_rows(spark, obs, base)[("p0", "w")]
    assert abs(r["tvd"] - 0.3) < 1e-9
    hel = math.sqrt(1.0 - math.sqrt(0.8 * 0.5) - math.sqrt(0.2 * 0.5))
    assert abs(r["hellinger"] - hel) < 1e-9
    assert abs(r["emd"] - 0.3) < 1e-9  # |cdf diff| at bucket 1 only
    # JSD closed form, nats
    def _jsd(p, q):
        s = 0.0
        for pi, qi in zip(p, q):
            mi = 0.5 * (pi + qi)
            if pi > 0:
                s += 0.5 * pi * math.log(pi / mi)
            if qi > 0:
                s += 0.5 * qi * math.log(qi / mi)
        return s
    assert abs(r["jsd"] - _jsd([0.8, 0.2], [0.5, 0.5])) < 1e-9


def test_chi2_pvalue_matches_exact_even_dof_survival(spark):
    """Wilson–Hilferty approximation vs the exact even-dof chi² survival
    Q(X²>x | 2k) = e^{-x/2} Σ_{i<k} (x/2)^i/i! — within 5e-3 across the
    range a drift gate cares about (p in ~[1e-3, 0.9])."""
    import math

    from jsonschema_spark.passes.drift import chi2_pvalue

    cases = [(4.0, 4), (8.0, 8), (12.0, 10), (20.0, 10), (30.0, 16), (9.0, 16)]
    df = spark.createDataFrame(cases, "x double, k int")
    got = {(r["x"], r["k"]): r["p"] for r in
           df.select("x", "k", chi2_pvalue(F.col("x"), F.col("k")).alias("p")).collect()}
    for x, k in cases:
        exact = math.exp(-x / 2.0) * sum((x / 2.0) ** i / math.factorial(i)
                                         for i in range(k // 2))
        assert abs(got[(x, k)] - exact) < 5e-3, (x, k, got[(x, k)], exact)


def test_divergence_chi2_smoothed_when_bucket_missing_from_baseline(spark):
    """An observed bucket absent from the baseline must yield a FINITE chi²
    (EPS-smoothed expected count), and dof counts only baseline-supported
    buckets."""
    obs = [("p0", "w", "1", 50), ("p0", "w", "9", 50)]  # bucket 9 not in base
    base = [("w", "1", 0.5), ("w", "2", 0.5)]
    r = _div_rows(spark, obs, base)[("p0", "w")]
    assert r["chi2"] == r["chi2"] and r["chi2"] < float("inf")
    assert r["chi2"] > 1000  # 50 observed vs ~1e-4 expected is a huge signal
    assert r["dof"] == 1  # two baseline-supported buckets - 1


# -------------------- histogram-quantile drift

def test_quantile_metrics_planted_bucket_shift(spark):
    """A partition whose distribution is the baseline shifted +2 buckets
    must report shift == 2 at every quantile; a matching partition 0."""
    from jsonschema_spark.passes.drift import quantile_metrics

    base_counts = {1: 10, 2: 20, 3: 40, 4: 20, 5: 10}
    tot = sum(base_counts.values())
    base = [("w", str(b), c / tot) for b, c in base_counts.items()]
    obs = (
        [("match", "w", str(b), c * 3) for b, c in base_counts.items()]
        + [("shifted", "w", str(b + 2), c * 3) for b, c in base_counts.items()]
    )
    o = spark.createDataFrame(obs, "part_id string, col string, bucket string, n long")
    b = spark.createDataFrame(base, "col string, bucket string, p_expected double")
    rows = {(r["part_id"], r["q"]): r for r in quantile_metrics(o, b).collect()}
    for q in (0.5, 0.9, 0.99):
        assert rows[("match", q)]["shift"] == 0.0, q
        assert rows[("shifted", q)]["shift"] == 2.0, q
    # sanity on the medians themselves: base median bucket is 3
    assert rows[("match", 0.5)]["b_obs"] == 3.0
    assert rows[("shifted", 0.5)]["b_obs"] == 5.0


def test_quantile_metrics_exact_boundary_is_engine_stable(spark):
    """A CDF that hits a q threshold EXACTLY (0.5 after two of four equal
    buckets) must select that bucket — the 1e-9 epsilon guards the float-sum
    boundary the DuckDB oracle must agree on."""
    from jsonschema_spark.passes.drift import quantile_metrics

    obs = [("p0", "w", str(b), 25) for b in range(1, 5)]
    base = [("w", str(b), 0.25) for b in range(1, 5)]
    o = spark.createDataFrame(obs, "part_id string, col string, bucket string, n long")
    b = spark.createDataFrame(base, "col string, bucket string, p_expected double")
    rows = {r["q"]: r for r in quantile_metrics(o, b).collect()}
    assert rows[0.5]["b_obs"] == 2.0 and rows[0.5]["b_exp"] == 2.0
    assert rows[0.99]["b_obs"] == 4.0


# -------------------- cross-field row predicates (x-table-checks extension)

def test_row_predicate_cross_field_violations(spark):
    """The image-table invariant JSON Schema can't express: raw frames must
    satisfy length(bytes) = w*h*3. Violating rows produce an 'x-predicate'
    violation; NULL inputs pass (ANSI CHECK semantics)."""
    from jsonschema_spark.engine import validate_rows

    rows = [
        ("ok", "raw", 2, 2, bytearray(12)),
        ("bad", "raw", 2, 2, bytearray(11)),
        ("png_exempt", "png", 2, 2, bytearray(5)),
        ("null_pass", "raw", None, 2, bytearray(7)),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, fmt string, w int, h int, bytes binary")
    spec = {"x-table-checks": {"row-predicates": [
        {"name": "raw_size", "test": "fmt <> 'raw' OR length(bytes) = w*h*3",
         "show": "length(bytes)"}]}}
    out = {r["image_id"]: r for r in
           validate_rows(df, spec, keys=["image_id"]).collect()}
    assert set(out) == {"bad"}
    assert out["bad"]["keyword"] == "x-predicate"
    assert out["bad"]["path"] == "/raw_size"
    assert out["bad"]["value"] == "11"


def test_row_predicate_columns_survive_fused_scan_pruning(spark):
    """Columns referenced only by a predicate must be in compiled.columns,
    or the fused narrow scan would drop them before the projection runs."""
    from pyspark.sql import types as T

    from jsonschema_spark import spec as S
    from jsonschema_spark.compile_spark import compile_table

    schema = T.StructType([
        T.StructField("a", T.IntegerType()), T.StructField("b", T.IntegerType()),
        T.StructField("c", T.IntegerType())])
    spec = S.parse({"properties": {"a": {"minimum": 0}},
                    "x-table-checks": {"row-predicates": [
                        {"name": "p", "test": "b < c"}]}})
    compiled = compile_table(spec, schema)
    assert set(compiled.columns) >= {"a", "b", "c"}


def test_row_predicate_absent_column_and_bad_spec_fail_fast(spark):
    import pytest as _pytest
    from pyspark.sql import types as T

    from jsonschema_spark import spec as S
    from jsonschema_spark.compile_spark import CompileError, compile_table

    schema = T.StructType([T.StructField("a", T.IntegerType())])
    spec = S.parse({"x-table-checks": {"row-predicates": [
        {"name": "p", "test": "a < zz", "columns": ["a", "zz"]}]}})
    with _pytest.raises(CompileError, match="absent columns"):
        compile_table(spec, schema)
    with _pytest.raises(S.SpecError, match="'test'"):
        S.parse({"x-table-checks": {"row-predicates": [{"name": "p"}]}})


# -------------------- partition-anomaly pass (robust median/MAD z-score)

def _anomaly_input(spark):
    # 9 healthy partitions (mean ~100, no nulls), one half-null with mean 500
    rows = []
    for p in range(9):
        rows += [(f"p{p}", 100 + (i % 3)) for i in range(20)]
    rows += [("bad", 500 if i % 2 else None) for i in range(20)]
    return spark.createDataFrame(rows, "part_id string, v int")


def test_anomaly_flags_planted_bad_partition(spark):
    from jsonschema_spark.passes.anomaly import anomaly_flags, partition_profile

    prof = partition_profile(_anomaly_input(spark), ["v"])
    flags = anomaly_flags(prof)
    bad = {(r["part_id"], r["metric"]): r["is_anomaly"] for r in flags.collect()}
    assert bad[("bad", "mean")] is True
    assert bad[("bad", "null_rate")] is True
    for p in range(9):
        assert bad[(f"p{p}", "mean")] is False, p
        assert bad[(f"p{p}", "null_rate")] is False, p


def test_anomaly_verdicts_schema_and_content(spark):
    from jsonschema_spark.passes.anomaly import (
        anomaly_flags, anomaly_verdicts, partition_profile,
    )

    prof = partition_profile(_anomaly_input(spark), ["v"])
    v = anomaly_verdicts(anomaly_flags(prof))
    rows = v.collect()
    assert {r["part_id"] for r in rows} == {"bad"}
    assert {r["check_id"] for r in rows} == {"anomaly@/v:mean", "anomaly@/v:null_rate"}
    assert all(r["passed"] is False and r["keyword"] == "anomaly" for r in rows)


def test_anomaly_outlier_cannot_mask_itself(spark):
    """The reason for median/MAD over mean/stddev: one extreme partition
    inflates stddev enough to hide itself from a classic z-score, but not
    the MAD. Extreme partition at 1e6 among 10 partitions at ~100."""
    from jsonschema_spark.passes.anomaly import anomaly_flags, partition_profile

    rows = []
    for p in range(10):
        rows += [(f"p{p}", 100 + p) for i in range(10)]
    rows += [("huge", 1_000_000) for _ in range(10)]
    df = spark.createDataFrame(rows, "part_id string, v int")
    flags = {r["part_id"]: r for r in
             anomaly_flags(partition_profile(df, ["v"])).filter("metric = 'mean'").collect()}
    assert flags["huge"]["is_anomaly"] is True
    # classic z-score would be (1e6-mean)/std ≈ 3.02 — under a 3.5 cut
    import statistics
    means = [100 + p for p in range(10)] + [1_000_000]
    classic_z = (1_000_000 - statistics.mean(means)) / statistics.pstdev(means)
    assert classic_z < 3.5


def test_validate_table_anomaly_pass_integration(spark):
    """P6 wired into the full suite via x-table-checks/anomaly: flagged
    partition gets failed verdict rows, healthy partitions explicit passes,
    all under pass_id='anomaly'; anomaly-only columns survive the fused
    projection."""
    from jsonschema_spark.engine import validate_table

    rows = []
    for p in range(8):
        rows += [(f"img-{p}-{i}", f"p{p}", 100 + (i % 5)) for i in range(30)]
    rows += [(f"img-bad-{i}", "bad", None if i % 2 else 9000) for i in range(30)]
    df = spark.createDataFrame(rows, "image_id string, part_id string, score int")
    # spec's property checks do NOT reference `score` — only the anomaly
    # block does, so this also pins the fused-scan column retention
    spec = {"properties": {"image_id": {"type": "string"}},
            "x-table-checks": {"anomaly": {"columns": ["score"]}}}
    res = validate_table(df, spec)
    av = [r for r in res.verdicts.collect()
          if r["check_id"].startswith("anomaly")]
    res.cleanup()
    # grouping-sets rollup adds part_id-NULL global rows; inspect per-part
    per_part = {r["part_id"]: r for r in av if r["part_id"] is not None
                and (r["part_id"] == "bad" or r["check_id"] == "anomaly@")}
    assert per_part["bad"]["passed"] is False
    flagged_checks = {r["check_id"] for r in av
                      if r["part_id"] == "bad" and not r["passed"]}
    assert "anomaly@/score:mean" in flagged_checks
    assert "anomaly@/score:null_rate" in flagged_checks
    for p in range(8):
        assert per_part[f"p{p}"]["passed"] is True, p
    assert res.anomaly_flags is not None


# -------------------- property-based bounds on the divergence family

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False


if HAVE_HYPOTHESIS:
    _hist = st.lists(st.integers(0, 1000), min_size=2, max_size=8).filter(
        lambda v: sum(v) > 0
    )

    @given(obs=_hist, exp=_hist)
    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_divergence_metric_bounds_hold(spark, obs, exp):
        """For ANY pair of histograms on a shared support: TVD ∈ [0,1],
        Hellinger ∈ [0,1], JSD ∈ [0, ln2], chi² ≥ 0, chi2_p ∈ [0,1], and
        W1 ≥ TVD (unit-spaced support ⇒ moving mass ≥1 bucket each)."""
        import math

        from jsonschema_spark.passes.drift import divergence_metrics

        n = max(len(obs), len(exp))
        obs = obs + [0] * (n - len(obs))
        exp = exp + [0] * (n - len(exp))
        tot_e = sum(exp) or 1
        o_rows = [("p", "c", str(b + 1), v) for b, v in enumerate(obs) if v > 0]
        e_rows = [("c", str(b + 1), v / tot_e) for b, v in enumerate(exp) if v > 0]
        if not o_rows or not e_rows:
            return
        o = spark.createDataFrame(o_rows, "part_id string, col string, bucket string, n long")
        e = spark.createDataFrame(e_rows, "col string, bucket string, p_expected double")
        r = divergence_metrics(o, e).collect()[0]
        assert -1e-9 <= r["tvd"] <= 1 + 1e-9
        assert -1e-9 <= r["hellinger"] <= 1 + 1e-9
        assert -1e-9 <= r["jsd"] <= math.log(2) + 1e-9
        assert r["chi2"] >= -1e-9
        assert -1e-6 <= r["chi2_p"] <= 1 + 1e-6
        assert r["emd"] >= r["tvd"] - 1e-9


# -------------------- embedding drift (centroid cosine vs global)

def test_embedding_drift_planted_shifted_partition(spark):
    """Partitions drawn around the same direction score cos≈1; a partition
    around an orthogonal direction scores ≈0 against the (dominated) global
    centroid; a scaled partition keeps cos but shows in mean_norm."""
    import numpy as np

    from jsonschema_spark.operators.similarity import embedding_drift

    rng = np.random.default_rng(7)
    d = 16
    base_dir = np.zeros(d); base_dir[0] = 1.0
    orth_dir = np.zeros(d); orth_dir[1] = 1.0
    rows = []
    for p in ("a", "b", "c"):  # three healthy partitions near e0
        for _ in range(200):
            rows.append((p, (base_dir + rng.normal(0, 0.01, d)).tolist()))
    for _ in range(20):        # small orthogonal partition near e1
        rows.append(("weird", (orth_dir + rng.normal(0, 0.01, d)).tolist()))
    for _ in range(50):        # scaled copy of the base direction
        rows.append(("big", (10.0 * base_dir + rng.normal(0, 0.01, d)).tolist()))
    df = spark.createDataFrame(rows, "label string, embedding array<double>")
    m = {r["part_id"]: r for r in embedding_drift(df, "label").collect()}
    for p in ("a", "b", "c"):
        assert m[p]["cos_to_global"] > 0.99, p
        assert abs(m[p]["mean_norm"] - 1.0) < 0.05
    assert m["weird"]["cos_to_global"] < 0.3
    assert m["big"]["cos_to_global"] > 0.99
    assert m["big"]["mean_norm"] > 9.0
    assert m["a"]["n"] == 200 and m["weird"]["n"] == 20


def test_anomaly_profile_accepts_sql_expressions(spark):
    """x-table-checks/anomaly columns may be SQL expressions (same surface
    as drift columns): a partition with systematically short captions flags
    on mean(length(caption))."""
    from jsonschema_spark.engine import validate_table

    rows = []
    for p in range(7):
        rows += [(f"id-{p}-{i}", f"p{p}", "a caption of usual length " + "x" * (i % 5))
                 for i in range(20)]
    rows += [(f"id-s-{i}", "short", "t") for i in range(20)]
    df = spark.createDataFrame(rows, "image_id string, part_id string, caption string")
    spec = {"properties": {"image_id": {"type": "string"}},
            "x-table-checks": {"anomaly": {"columns": ["length(caption)"]}}}
    res = validate_table(df, spec)
    flagged = {r["part_id"] for r in res.verdicts.collect()
               if r["keyword"] == "anomaly" and r["part_id"] is not None
               and not r["passed"]}
    res.cleanup()
    assert flagged == {"short"}


# ---------------------------------------------- duplicate clustering (CC)

def test_connected_components_transitive_chain_and_star(spark):
    """a-b-c-d chain, e-f pair, g-star: every node must get its component's
    MINIMUM id — transitive closure, which a per-pair keep/drop policy
    cannot produce."""
    from jsonschema_spark.operators.clustering import connected_components

    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("c", "d"), ("e", "f"),
         ("g", "h"), ("g", "i"), ("g", "j"), ("d", "c")],  # dup edge included
        ["id_a", "id_b"],
    )
    got = {(r["id"], r["cluster_id"]) for r in connected_components(pairs).collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
                   ("e", "e"), ("f", "e"),
                   ("g", "g"), ("h", "g"), ("i", "g"), ("j", "g")}


def test_connected_components_long_path_converges_logarithmically(spark):
    """A 64-node path graph is the adversarial diameter case: naive
    min-propagation needs 63 rounds; alternating star must finish well
    within the O(log n) budget and still label every node with the min."""
    from jsonschema_spark.operators import clustering

    ids = [f"n{i:03d}" for i in range(64)]
    pairs = spark.createDataFrame(list(zip(ids[:-1], ids[1:])), ["id_a", "id_b"])

    rounds = 0
    orig_small = clustering._small_star

    def counting_small(edges):
        nonlocal rounds
        rounds += 1
        return orig_small(edges)

    clustering._small_star = counting_small
    try:
        cc = clustering.connected_components(pairs)
        assert cc.where("cluster_id != 'n000'").count() == 0
        assert cc.count() == 64
    finally:
        clustering._small_star = orig_small
    # 2*log2(64)=12 is the paper bound; +1 for the convergence-confirm round
    assert rounds <= 13, f"took {rounds} star rounds for a 64-path"


def test_duplicate_clusters_singletons_and_canonical_flags(spark):
    from jsonschema_spark.operators.clustering import duplicate_clusters

    df = spark.createDataFrame([(x,) for x in "abcdefg"], ["doc_id"])
    pairs = spark.createDataFrame([("b", "a"), ("c", "b")], ["id_a", "id_b"])
    rows = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
            for r in duplicate_clusters(df, pairs).collect()}
    assert rows == {
        "a": ("a", True), "b": ("a", False), "c": ("a", False),
        "d": ("d", True), "e": ("e", True), "f": ("f", True), "g": ("g", True),
    }


def test_connected_components_int_ids_and_skewed_star(spark):
    """Numeric ids + a 500-leaf hot star (the skew shape large-star exists
    for): one round must collapse it; all leaves label to the hub's min."""
    from jsonschema_spark.operators.clustering import connected_components

    pairs = spark.createDataFrame(
        [(5, leaf) for leaf in range(10, 510)] + [(5, 1)], ["id_a", "id_b"]
    )
    cc = connected_components(pairs)
    assert cc.count() == 502
    assert cc.where("cluster_id != 1").count() == 0


# ---------------------------------------------- deterministic sampling

def test_hash_sample_fraction_and_repartition_stability(spark):
    """The kept set must be a property of row CONTENT, not partitioning:
    identical under repartition(17) (df.sample is not), ~fraction sized,
    and salt-independent draws barely overlap."""
    from jsonschema_spark.operators import sampling as S

    df = spark.range(100000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 4).cast("string").alias("lang")
    )
    n = S.hash_sample(df, 0.25).count()
    assert abs(n / 100000 - 0.25) < 0.01
    a = {r.doc_id for r in S.hash_sample(df, 0.01).collect()}
    b = {r.doc_id for r in S.hash_sample(df.repartition(17), 0.01).collect()}
    assert a == b
    c = {r.doc_id for r in S.hash_sample(df, 0.01, salt="x").collect()}
    assert len(a & c) < 50  # E[overlap] = 10

    # scan-side filter: sampling must not introduce a shuffle
    plan = S.hash_sample(df, 0.25)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_stratified_hash_sample_per_stratum_fractions(spark):
    from jsonschema_spark.operators import sampling as S

    df = spark.range(100000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 4).cast("string").alias("lang")
    )
    st = S.stratified_hash_sample(df, {"0": 0.5, "1": 0.1, "2": 1.0}, strata_col="lang")
    cnt = {r["lang"]: r["count"] for r in st.groupBy("lang").count().collect()}
    assert abs(cnt["0"] / 25000 - 0.5) < 0.03
    assert abs(cnt["1"] / 25000 - 0.1) < 0.02
    assert cnt["2"] == 25000  # fraction 1.0 keeps EVERY row (sentinel threshold)
    assert "3" not in cnt  # default fraction 0


def test_assign_splits_disjoint_exhaustive_and_growth_stable(spark):
    """Every row gets exactly one split; a row's split does not change when
    the corpus grows — the eval-contamination guarantee."""
    from jsonschema_spark.operators import sampling as S

    df = spark.range(100000).select(F.col("id").alias("doc_id"))
    sp = S.assign_splits(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    sc = {r["split"]: r["count"] for r in sp.groupBy("split").count().collect()}
    assert sum(sc.values()) == 100000
    assert abs(sc["train"] / 100000 - 0.8) < 0.01
    assert abs(sc["val"] / 100000 - 0.1) < 0.005
    small = S.assign_splits(df.where("doc_id < 1000"), {"train": 0.8, "val": 0.1, "test": 0.1})
    m_small = {r["doc_id"]: r["split"] for r in small.collect()}
    m_big = {r["doc_id"]: r["split"] for r in sp.where("doc_id < 1000").collect()}
    assert m_small == m_big


def test_sampling_input_validation(spark):
    from jsonschema_spark.operators import sampling as S

    df = spark.range(10).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError):
        S.hash_sample(df, 1.5)
    with pytest.raises(ValueError):
        S.assign_splits(df, {})
    with pytest.raises(ValueError):
        S.assign_splits(df, {"a": 0.0})


# ---------------------------------------------- PII scan / redaction

def _pii_df(spark):
    rows = [
        (1, "reach me at bob.smith+x@ex-ample.co.uk or +1 (415) 555-0100 today"),
        (2, "server 192.168.10.42 and 8.8.8.8; bogus 999.1.1.1 must not fully match"),
        (3, "id 123e4567-e89b-12d3-a456-426614174000 ssn 123-45-6789"),
        (4, "clean text with nothing sensitive at all"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_pii_counts_per_detector(spark):
    from jsonschema_spark.operators import pii

    c = {r["doc_id"]: r.asDict() for r in pii.pii_counts(_pii_df(spark)).collect()}
    assert 4 not in c  # clean docs never leave the scan stage
    assert c[1]["n_email"] == 1 and c[1]["n_phone"] == 1
    assert c[2]["n_ipv4"] == 2  # 999.1.1.1 rejected by the octet grammar
    assert c[3]["n_uuid"] == 1 and c[3]["n_ssn"] == 1
    assert c[3]["n_pii_total"] == 2


def test_pii_findings_exploded_spans(spark):
    from jsonschema_spark.operators import pii

    f = {(r["doc_id"], r["kind"], r["match"])
         for r in pii.pii_findings(_pii_df(spark)).collect()}
    assert (1, "email", "bob.smith+x@ex-ample.co.uk") in f
    assert (2, "ipv4", "8.8.8.8") in f
    assert (3, "ssn", "123-45-6789") in f
    assert not any(m == "999.1.1.1" for _, _, m in f)


def test_pii_redact_masks_all_and_preserves_clean(spark):
    from jsonschema_spark.operators import pii

    df = _pii_df(spark)
    r = {x["doc_id"]: x["redacted"] for x in pii.redact(df).collect()}
    assert "[EMAIL]" in r[1] and "[PHONE]" in r[1] and "@" not in r[1]
    assert r[2].count("[IPV4]") == 2 and "999.1.1.1" in r[2]
    assert "[UUID]" in r[3] and "[SSN]" in r[3]
    assert r[4] == "clean text with nothing sensitive at all"
    # no shuffle: detection + redaction is one codegen projection on the scan
    plan = pii.redact(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ------------------------------------- draft-06/07 keywords on the Spark path

def test_property_names_map_and_struct(spark):
    from jsonschema_spark.engine import validate_json_rows, validate_rows

    # map-typed JSON payload: runtime key check
    spec = {"type": "object", "propertyNames": {"pattern": "^[a-z_]+$"}}
    rows = [(1, '{"ok_key": "v"}'), (2, '{"BadKey": "v"}')]
    df = spark.createDataFrame(rows, "id int, payload string")
    got = sorted((r["id"], r["keyword"])
                 for r in validate_json_rows(df, "payload", spec, keys=["id"]).collect())
    assert got == [(2, "propertyNames")]

    # struct-typed nested column: static names validated at compile time
    sdf = spark.createDataFrame([(1, (1, 2)), (2, (3, None))], "id int, obj struct<ok_a:int, Bad:int>")
    sspec = {"properties": {"obj": {"propertyNames": {"pattern": "^[a-z_]+$"}}}}
    sgot = sorted((r["id"], r["keyword"], r["path"])
                  for r in validate_rows(sdf, sspec, keys=["id"]).collect())
    assert sgot == [(1, "propertyNames", "/obj/Bad")]  # row 2's Bad field is null => absent


def test_min_max_contains_array_column(spark):
    from jsonschema_spark.engine import validate_rows

    rows = [(1, [10, 11, 1]), (2, [10]), (3, [10, 11, 12, 13]), (4, [])]
    df = spark.createDataFrame(rows, "id int, xs array<int>")
    spec = {"properties": {"xs": {"contains": {"minimum": 10}, "minContains": 2, "maxContains": 3}}}
    got = sorted((r["id"], r["keyword"]) for r in validate_rows(df, spec, keys=["id"]).collect())
    assert got == [(2, "minContains"), (3, "minContains"), (4, "minContains")] or \
           got == [(2, "minContains"), (3, "maxContains"), (4, "minContains")]
    assert (3, "maxContains") in got


def test_dependent_required_and_schemas_json(spark):
    from jsonschema_spark.engine import validate_json_rows

    spec = {"type": "object",
            "dependentRequired": {"a": ["b"]},
            "dependentSchemas": {"c": {"properties": {"d": {"minimum": 5}}}},
            "properties": {"a": {}, "b": {}, "c": {}, "d": {"type": "integer"}}}
    rows = [(1, '{"a":1,"b":2}'), (2, '{"a":1}'), (3, '{"c":1,"d":7}'), (4, '{"c":1,"d":3}')]
    df = spark.createDataFrame(rows, "id int, payload string")
    got = sorted((r["id"], r["keyword"])
                 for r in validate_json_rows(df, "payload", spec, keys=["id"]).collect())
    assert got == [(2, "dependencies"), (4, "dependencies")]


# --------------------------------------- draft-7 content keywords (Spark path)

def test_content_encoding_and_media_type(spark):
    """contentEncoding=base64 + contentMediaType=image/png, asserting mode:
    base64 shape via rlike, PNG signature via hex-prefix compare on the
    decoded bytes. Invalid base64 reports contentEncoding only (decode
    failure is not the media type's violation)."""
    import base64
    from jsonschema_spark.engine import validate_rows

    png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 16
    good = base64.b64encode(png).decode()
    rows = [(1, good), (2, good + "!"),
            (3, base64.b64encode(b"JUNKJUNKJUNK").decode()), (4, None)]
    df = spark.createDataFrame(rows, "id int, payload string")
    spec = {"properties": {"payload": {"contentEncoding": "base64",
                                       "contentMediaType": "image/png"}}}
    got = sorted((r["id"], r["keyword"])
                 for r in validate_rows(df, spec, keys=["id"]).collect())
    assert got == [(2, "contentEncoding"), (3, "contentMediaType")]


def test_content_media_type_webp_and_json(spark):
    import base64
    from jsonschema_spark.engine import validate_rows

    # webp needs RIFF at 0 AND WEBP at offset 8
    webp = base64.b64encode(b"RIFF\x00\x00\x00\x00WEBPVP8 ").decode()
    riff_only = base64.b64encode(b"RIFF\x00\x00\x00\x00AAAAVP8 ").decode()
    df = spark.createDataFrame([(1, webp), (2, riff_only)], "id int, p string")
    spec = {"properties": {"p": {"contentEncoding": "base64",
                                 "contentMediaType": "image/webp"}}}
    got = sorted((r["id"], r["keyword"])
                 for r in validate_rows(df, spec, keys=["id"]).collect())
    assert got == [(2, "contentMediaType")]

    # application/json on a raw (unencoded) string column
    df2 = spark.createDataFrame([(1, '{"a": 1}'), (2, "[1,2]"), (3, "nope")],
                                "id int, p string")
    got2 = sorted((r["id"], r["keyword"]) for r in validate_rows(
        df2, {"properties": {"p": {"contentMediaType": "application/json"}}},
        keys=["id"]).collect())
    assert got2 == [(3, "contentMediaType")]


def test_draft7_formats_spark_path(spark):
    from jsonschema_spark.engine import validate_rows

    rows = [(1, "123e4567-e89b-12d3-a456-426614174000", "P1DT2H", "/a/b~1c"),
            (2, "not-a-uuid", "P", "a/b")]
    df = spark.createDataFrame(rows, "id int, u string, d string, jp string")
    spec = {"properties": {"u": {"format": "uuid"},
                           "d": {"format": "duration"},
                           "jp": {"format": "json-pointer"}}}
    got = sorted((r["id"], r["path"])
                 for r in validate_rows(df, spec, keys=["id"]).collect())
    assert got == [(2, "/d"), (2, "/jp"), (2, "/u")]


# ------------------- repetition metrics + decontamination (training pipeline)

def test_repetition_metrics_values_and_no_shuffle(spark):
    from jsonschema_spark.operators.text import repetition_metrics

    rows = [(1, "a b\na b\nc d"),      # 3 lines, one dup pair
            (2, "x y z"),              # no dup lines, no dup words
            (3, "w w w w")]            # 1 line, all-dup words
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition_metrics(df).collect()}
    assert got[1]["n_lines"] == 3 and abs(got[1]["dup_line_frac"] - 1 / 3) < 1e-6
    assert got[2]["dup_line_frac"] == 0.0 and got[2]["dup_word_frac"] == 0.0
    assert got[3]["n_words"] == 4 and got[3]["dup_word_frac"] == 0.75
    # scan-side: one codegen projection, no Exchange
    plan = repetition_metrics(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_top_ngram_fraction_value_and_tiebreak(spark):
    from jsonschema_spark.operators.text import top_ngram_fraction

    # "a b" occurs twice (chars 3*2=6 of 11); tie case: every 2-gram once ->
    # lexicographically smallest wins
    df = spark.createDataFrame([(1, "a b a b c"), (2, "z y x w")],
                               "doc_id int, text string")
    got = {r["doc_id"]: r.asDict() for r in top_ngram_fraction(df, n=2).collect()}
    assert got[1]["top_gram"] == "a b" and got[1]["top_gram_count"] == 2
    assert abs(got[1]["top_gram_char_frac"] - 6 / 9) < 1e-6
    assert got[2]["top_gram"] == "w x" or got[2]["top_gram"] == "x w"
    assert got[2]["top_gram"] == min(["z y", "y x", "x w"])


def test_decontamination_flags_and_removes(spark):
    from jsonschema_spark.operators.decontam import contamination_hits, decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id int, text string")
    corpus = spark.createDataFrame(
        [(1, "something about the quick brown fox appearing here"),  # 2 shared 3-grams
         (2, "completely unrelated words without any overlap at all"),
         (3, "quick brown fox jumps straight through")],             # 2 shared
        "doc_id int, text string")
    hits = {r["doc_id"]: r["n_contaminated_grams"]
            for r in contamination_hits(corpus, bench, n=3).collect()}
    assert hits == {1: 2, 3: 2}
    clean = sorted(r["doc_id"] for r in decontaminate(corpus, bench, n=3).collect())
    assert clean == [2]
    # min_overlap raises the bar
    none_ = contamination_hits(corpus, bench, n=3, min_overlap=3).collect()
    assert none_ == []
    # the benchmark side must broadcast (corpus shingles never shuffle to it)
    plan = contamination_hits(corpus, bench, n=3)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# ----------------------- KLL quantile sketches + theta set overlap (sketches)

def test_kll_quantiles_exact_and_merge_consistent(spark):
    """KLL sketches are exact below k (no compaction) and merging the
    per-partition sketches equals sketching the whole table — the
    resume-rollup property the stats manifest relies on (quantile analogue
    of the HLL rollup test)."""
    import pyspark.sql.functions as F
    from jsonschema_spark.passes.stats import column_stats, merge_quantiles

    df = spark.range(1000).select(
        (F.col("id") % 8).alias("part_id"), F.col("id").cast("long").alias("v"))
    st = column_stats(df, ["v"], with_quantiles=True, kll_k=4096)
    got = merge_quantiles(st).collect()[0]
    # inclusive-rank quantiles over 0..999: q -> ceil(q*n)-th smallest (1-idx)
    assert (got["q50"], got["q90"], got["q99"]) == (499.0, 899.0, 989.0)

    # merge of 8 partition sketches == one global sketch
    single = column_stats(df.withColumn("part_id", F.lit(0)), ["v"],
                          with_quantiles=True, kll_k=4096)
    assert merge_quantiles(single).collect()[0] == got

    # non-numeric columns carry a null sketch and are skipped by the merge
    df2 = df.withColumn("s", F.col("v").cast("string"))
    st2 = column_stats(df2, ["v", "s"], with_quantiles=True, kll_k=4096)
    assert [r["column"] for r in merge_quantiles(st2).collect()] == ["v"]


def test_theta_set_overlap_exact_and_algebra(spark):
    import pyspark.sql.functions as F
    from jsonschema_spark.operators.overlap import set_overlap

    a = spark.range(0, 600).select(F.col("id").alias("k"))
    b = spark.range(300, 900).select(F.col("id").alias("k"))
    r = set_overlap(a, b, "k").collect()[0]
    assert (r["n_a"], r["n_b"], r["n_intersection"], r["n_union"]) == (600, 600, 300, 900)
    assert (r["n_a_only"], r["n_b_only"]) == (300, 300)
    assert abs(r["jaccard"] - 300 / 900) < 1e-6
    assert abs(r["containment_a_in_b"] - 0.5) < 1e-6
    # duplicates in the input must not inflate the DISTINCT estimates
    a_dup = a.union(a)
    r2 = set_overlap(a_dup, b, "k").collect()[0]
    assert r2["n_a"] == 600 and r2["n_intersection"] == 300


# ------------------------- draft-2019 unevaluatedProperties/unevaluatedItems

def test_unevaluated_properties_struct_branch_annotations(spark):
    """A struct field is evaluated iff a SUCCESSFULLY-validating applicator
    branch names it (draft-2019 annotation rule); null fields are absent."""
    from jsonschema_spark.engine import validate_rows

    df = spark.createDataFrame(
        [(1, (1, 2, 9)), (2, (1, None, 5)), (3, (None, 2, None))],
        "id int, obj struct<a:int, b:int, d:int>")
    spec = {"properties": {"obj": {
        "properties": {"a": {}},
        "anyOf": [{"required": ["b"], "properties": {"b": {}}},
                  {"required": ["c"], "properties": {"c": {}}}],
        "unevaluatedProperties": False}}}
    got = sorted((r["id"], r["keyword"], r["path"])
                 for r in validate_rows(df, spec, keys=["id"]).collect())
    assert (1, "unevaluatedProperties", "/obj/d") in got
    assert (2, "anyOf", "/obj") in got
    assert (2, "unevaluatedProperties", "/obj/d") in got
    assert not any(i == 3 and k == "unevaluatedProperties" for i, k, _ in got)


def test_unevaluated_properties_map_payload(spark):
    """Map-typed JSON payloads check coverage per dynamic key; the schema
    form validates uncovered values. (Struct-typed payloads are closed-world
    — from_json drops undeclared keys — same caveat as additionalProperties;
    pattern-only schemas parse as maps and see every key.)"""
    from jsonschema_spark.engine import validate_json_rows

    spec = {"type": "object", "patternProperties": {"^x_": {}},
            "unevaluatedProperties": False}
    df = spark.createDataFrame([(1, '{"x_a": 1, "x_b": 2}'), (2, '{"x_a": 1, "rogue": 2}')],
                               "id int, payload string")
    got = sorted((r["id"], r["keyword"])
                 for r in validate_json_rows(df, "payload", spec, keys=["id"]).collect())
    assert got == [(2, "unevaluatedProperties")]

    spec2 = {"type": "object", "patternProperties": {"^a": {}},
             "unevaluatedProperties": {"pattern": "^[0-9]+$"}}
    df2 = spark.createDataFrame([(1, '{"ab": "x", "z": "123"}'),
                                 (2, '{"ab": "x", "z": "nope"}')],
                                "id int, payload string")
    got2 = sorted((r["id"], r["keyword"])
                  for r in validate_json_rows(df2, "payload", spec2, keys=["id"]).collect())
    assert got2 == [(2, "unevaluatedProperties")]


def test_unevaluated_items_array_column(spark):
    from jsonschema_spark.engine import validate_rows

    df = spark.createDataFrame([(1, [10, 20]), (2, [10, 20, 30])], "id int, xs array<int>")
    spec = {"properties": {"xs": {"items": [{}, {}], "unevaluatedItems": False}}}
    got = sorted((r["id"], r["keyword"]) for r in validate_rows(df, spec, keys=["id"]).collect())
    assert got == [(2, "unevaluatedItems")]

    # schema form applies to the suffix only
    spec2 = {"properties": {"xs": {"items": [{}], "unevaluatedItems": {"maximum": 25}}}}
    got2 = sorted((r["id"], r["keyword"]) for r in validate_rows(df, spec2, keys=["id"]).collect())
    assert got2 == [(2, "unevaluatedItems")]

    # a validating allOf branch extends the evaluated prefix at runtime
    spec3 = {"properties": {"xs": {"items": [{}],
             "allOf": [{"items": [{}, {}, {}]}], "unevaluatedItems": False}}}
    got3 = sorted((r["id"], r["keyword"]) for r in validate_rows(df, spec3, keys=["id"]).collect())
    assert got3 == []


# --------------------------------------------- spec suggestion (suggest.py)

def test_suggest_spec_golden_and_roundtrip(spark):
    """suggest_spec drafts the spec from one fused profile aggregation; the
    defining property: the source table validates CLEAN against its own
    suggested spec (observed ranges/enums are by construction satisfied)."""
    from jsonschema_spark.suggest import suggest_spec
    from jsonschema_spark.engine import validate_rows

    rows = [(1, "png", 10, None), (2, "bmp", 950, 1.5), (3, "png", 40, 2.5)]
    df = spark.createDataFrame(rows, "id int, fmt string, w int, score double")
    spec = suggest_spec(df)
    assert spec["required"] == ["fmt", "id", "w"]          # score has a null
    assert spec["properties"]["id"] == {
        "type": "integer", "minimum": 1, "maximum": 3, "enum": [1, 2, 3]}
    assert spec["properties"]["fmt"] == {
        "type": "string", "minLength": 3, "maxLength": 3, "enum": ["bmp", "png"]}
    assert spec["properties"]["w"]["minimum"] == 10
    assert spec["properties"]["w"]["maximum"] == 950
    assert spec["properties"]["score"]["type"] == "number"

    got = validate_rows(df.withColumnRenamed("id", "rid").withColumn("id", F.col("rid")),
                        spec, keys=["rid"]).collect()
    assert got == []  # round-trip: table is clean under its own suggestion


def test_suggest_spec_enum_guard_high_cardinality(spark):
    """High-cardinality columns must NOT collect an enum set (the
    approx-distinct guard) and must not carry an enum in the suggestion."""
    from jsonschema_spark.suggest import suggest_spec, profile_columns

    df = spark.range(5000).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("s"))
    spec = suggest_spec(df, enum_max=16)
    assert "enum" not in spec["properties"]["id"]
    assert "enum" not in spec["properties"]["s"]
    prof = {r["column"]: r for r in profile_columns(df, enum_max=16).collect()}
    assert prof["s"]["enum_vals"] is None and prof["s"]["n_distinct"] == 5000


# ------------------------------------ chunking + sequence packing (training)

def test_chunk_documents_boundaries_and_no_shuffle(spark):
    from jsonschema_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))),  # 10 tokens
         (2, "a b"), (3, None)],
        "doc_id int, text string")
    got = sorted((r["doc_id"], r["chunk_idx"], r["n_chunk_tokens"], r["chunk"])
                 for r in chunk_documents(df, chunk_tokens=4, overlap=1).collect())
    # stride 3: starts 1,4,7,10 -> chunks of 4,4,4,1; doc2: one short chunk
    assert [(i, n) for d, i, n, _ in got if d == 1] == [(0, 4), (1, 4), (2, 4), (3, 1)]
    assert got[0][3] == "t0 t1 t2 t3" and got[1][3] == "t3 t4 t5 t6"
    assert [(i, n, c) for d, i, n, c in got if d == 2] == [(0, 2, "a b")]
    assert not any(d == 3 for d, *_ in got)  # null text dropped
    # overlap carried: first token of chunk k == last token of chunk k-1
    plan = chunk_documents(df, 4, 1)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_pack_sequences_boundaries_and_stats(spark):
    from jsonschema_spark.operators.packing import pack_sequences, packing_stats

    rows = [(i, "p1" if i < 4 else "p2", 60) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id int, grp string, toks int")
    packed = pack_sequences(df, budget=100, part_col="grp", token_col="toks")
    got = {(r["part"], r["doc_id"]): (r["pack_id"], r["pack_pos"])
           for r in packed.collect()}
    # per part: cum 60,120,180,240 -> pack floor(pre/100): 0,0,1,1
    assert got[("p1", 0)] == (0, 1) and got[("p1", 1)] == (0, 2)
    assert got[("p1", 2)] == (1, 1) and got[("p1", 3)] == (1, 2)
    assert got[("p2", 4)][0] == 0 and got[("p2", 6)][0] == 1

    st = {(r["part"], r["pack_id"]): (r["n_docs"], r["pack_tokens"], r["overflow_tokens"])
          for r in packing_stats(packed, 100).collect()}
    # straddling doc charged to the pack it starts in -> overflow 20
    assert st[("p1", 0)] == (2, 120, 20)

    # windows are partition-local: no global single-partition sort
    plan = packed._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_content_schema_base64_json(spark):
    """contentSchema composed with contentEncoding: decoded base64 JSON is
    re-validated against the subschema; unparseable content stays owned by
    contentEncoding/contentMediaType."""
    import base64
    from jsonschema_spark.engine import validate_rows

    spec = {"contentEncoding": "base64", "contentMediaType": "application/json",
            "contentSchema": {"required": ["k"], "properties": {"k": {"minimum": 5}}}}
    rows = [(1, base64.b64encode(b'{"k": 9}').decode()),
            (2, base64.b64encode(b'{"k": 1}').decode()),
            (3, "!!!")]
    df = spark.createDataFrame(rows, "id int, p string")
    got = sorted((r["id"], r["keyword"]) for r in validate_rows(
        df, {"properties": {"p": spec}}, keys=["id"]).collect())
    assert got == [(2, "contentSchema"), (3, "contentEncoding")]


# -------------------------------------------- incremental dedup (LSH index)

_HASH_JOIN_KEYS = re.compile(
    r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[([^\]]*)\], \[([^\]]*)\]")


def _hash_join_keys(plan: str) -> list[tuple[list[str], list[str]]]:
    """Per hash/sort-merge join in ``plan``: its left and right key names,
    expression ids stripped (``blk#17`` -> ``blk``)."""
    def names(keys: str) -> list[str]:
        return [re.sub(r"#\d+L?$", "", k.strip()) for k in keys.split(",")]

    return [(names(a), names(b)) for a, b in _HASH_JOIN_KEYS.findall(plan)]


def test_pair_join_plans_are_bucket_equi_joins(spark):
    """The one-shot pair searches of all three near-duplicate families pair
    rows with ONE equi-join on the family's bucket keys — never a cartesian
    or nested-loop product over the corpus."""
    from jsonschema_spark.operators import dedup as D

    sig = spark.createDataFrame([(i, i * 7919) for i in range(6)],
                                "id long, simhash long")
    docs = spark.createDataFrame([(i, f"a b c d e f{i % 2}") for i in range(4)],
                                 "doc_id long, text string")
    emb = spark.createDataFrame([(i, [1.0, float(i), 0.5]) for i in range(4)],
                                "vec_id long, embedding array<double>")
    families = [
        (D.hamming_near_duplicates(sig), ["blk", "key"]),
        (D.minhash_lsh_candidates(docs, 8, 4), ["band", "bucket"]),
        (D.embedding_near_duplicates(emb, 0.9), ["tbl", "bkt"]),
    ]
    for df, keys in families:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert _hash_join_keys(plan) == [(keys, keys)], plan


def test_bucket_pairs_matches_brute_force(spark):
    """The shared pair join equals a Python pairing of index rows on the
    bucket keys: the self-join reports each unordered pair once (id_a <
    id_b), the join against a second index every ordered cross pair with
    id_a != id_b, and a pair sharing several buckets once."""
    from jsonschema_spark.operators import dedup as D

    rows = [(1, 0, 7, "p"), (2, 0, 7, "q"), (3, 0, 8, "r"), (3, 1, 5, "r"),
            (4, 1, 5, "s"), (4, 0, 7, "s"), (1, 1, 5, "p"), (5, 2, 9, "t")]
    other_rows = [(6, 0, 8, "u"), (2, 1, 5, "q"), (7, 2, 3, "v")]
    schema = "id long, band int, bucket long, tag string"
    idx = spark.createDataFrame(rows, schema)
    other = spark.createDataFrame(other_rows, schema)

    def brute(a_rows, b_rows, keys, ordered):
        return {(a[0], b[0], a[3], b[3]) for a in a_rows for b in b_rows
                if all(a[k] == b[k] for k in keys)
                and (a[0] != b[0] if ordered else a[0] < b[0])}

    def got(df):
        out = df.collect()
        assert len(out) == len({tuple(r) for r in out})  # distinct
        return {(r.id_a, r.id_b, r.tag_a, r.tag_b) for r in out}

    keys = ("band", "bucket")
    self_pairs = got(D._bucket_pairs(idx, None, keys, ("tag",)))
    assert self_pairs == brute(rows, rows, (1, 2), ordered=False)
    assert (1, 4, "p", "s") in self_pairs     # shares two buckets, once
    cross = got(D._bucket_pairs(idx, other, keys, ("tag",)))
    assert cross == brute(rows, other_rows, (1, 2), ordered=True)
    assert {(a, b) for a, b, _, _ in cross} == {(3, 6), (1, 2), (3, 2), (4, 2)}


def test_dedup_exact_documents_matches_twin_on_planted_copies(spark, sf_small):
    """The driver's exact-dedup query and its DuckDB twin both see the
    planted copies (doc_id < 20 re-keyed to doc_id + 100000), so the gate
    compares a non-empty row set instead of agreeing on nothing."""
    import sys

    import duckdb

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)
    import __spark_entry__ as E

    got = {tuple(r) for r in E.q_dedup_exact_documents(spark, sf_small).collect()}
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{sf_small}/documents.parquet')")
    want = {tuple(r) for r in con.execute(E.SQL_DEDUP_EXACT_DOCUMENTS).fetchall()}
    assert got == want
    planted = {r for r in got if r[3] >= 100000}
    assert len(planted) >= 1
    assert all(r[3] - 100000 < 20 and r[1] >= 2 for r in planted)


def test_minhash_incremental_matches_full_corpus(spark):
    """Completeness invariant of the incremental path: (batch vs stored
    corpus index) ∪ (within-batch) == the full-corpus candidate set
    restricted to pairs touching the batch — the historical corpus is never
    rescanned, only its persisted (band, bucket) index rows are joined."""
    from jsonschema_spark.operators import dedup as D

    base = " ".join(f"w{i}" for i in range(30))
    rows = [(i, base + f" tail{i}") for i in range(8)]          # near-dups of each other
    rows += [(100 + i, " ".join(f"u{i}x{j}" for j in range(30))) for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    old = df.where(F.col("doc_id") < 4)       # historical corpus
    new = df.where(F.col("doc_id") >= 4)      # arriving batch

    corpus_idx = D.minhash_band_buckets(
        D.minhash_signatures(old, 64), 64, 16)
    inc = D.minhash_incremental_candidates(new, corpus_idx, 64, 16).collect()
    got = {(min(r.id_new, r.id_other), max(r.id_new, r.id_other)) for r in inc}
    origins = {r.origin for r in inc}
    assert origins == {"corpus", "batch"}     # both streams non-vacuous

    full = D.minhash_lsh_candidates(df, 64, 16).collect()
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    expected = {(r.id_a, r.id_b) for r in full
                if r.id_a in new_ids or r.id_b in new_ids}
    assert got == expected and len(expected) > 0


# ------------------------------------------------ snapshot diff (versioning)

def test_snapshot_diff_statuses_and_schema_diff(spark):
    from jsonschema_spark.operators.diff import snapshot_diff, diff_summary, schema_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, v string, w int")
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, "d", 40)], "k long, v string, w int")
    d = {r["k"]: r["status"] for r in snapshot_diff(old, new, ["k"]).collect()}
    assert d == {2: "changed", 3: "removed", 4: "added"}
    s = {r["status"]: r["n"] for r in diff_summary(
        snapshot_diff(old, new, ["k"], include_unchanged=True)).collect()}
    assert s == {"unchanged": 1, "changed": 1, "removed": 1, "added": 1}

    # NULL vs empty-string must differ (sentinel in the hash input)
    o2 = spark.createDataFrame([(1, None)], "k long, v string")
    n2 = spark.createDataFrame([(1, "")], "k long, v string")
    assert snapshot_diff(o2, n2, ["k"]).collect()[0]["status"] == "changed"

    # widened column types hash equal (cast-to-string normalization)
    o3 = spark.createDataFrame([(1, 7)], "k long, v int")
    n3 = spark.createDataFrame([(1, 7)], "k long, v bigint")
    assert snapshot_diff(o3, n3, ["k"]).collect() == []

    sd = schema_diff(old, new.withColumn("z", F.lit(1.0))
                     .withColumn("w", F.col("w").cast("long")).drop("v"))
    assert {(c["column"], c["change"]) for c in sd} == {
        ("z", "added"), ("v", "removed"), ("w", "type_changed")}


def test_hamming_incremental_matches_full_corpus(spark):
    """Image-side incremental dedup (phash pigeonhole index): batch-vs-index
    union within-batch equals the full pair set restricted to pairs touching
    the batch — pigeonhole completeness is preserved per stream."""
    from jsonschema_spark.operators import dedup as D

    base = 0x0123456789ABCDEF
    rows = [(i, base ^ (1 << i)) for i in range(6)]           # pairwise dist 2
    rows += [(100 + i, (~base & 0xFFFFFFFFFFFFFFFF) ^ (7 << (8 * i)))
             for i in range(3)]                                # far cluster
    sig = spark.createDataFrame(
        [(i, s - (1 << 63) if s >= (1 << 63) else s) for i, s in rows],
        "id long, simhash long")
    old = sig.where(F.col("id") < 3)
    new = sig.where(F.col("id") >= 3)

    idx = D.hamming_block_index(old, max_hamming=3)
    inc = D.hamming_incremental_candidates(new, idx, max_hamming=3).collect()
    got = {(min(r.id_new, r.id_other), max(r.id_new, r.id_other), r.hamming)
           for r in inc}
    assert {r.origin for r in inc} == {"corpus", "batch"}

    full = D.hamming_near_duplicates(sig, max_hamming=3).collect()
    new_ids = {r.id for r in new.select("id").collect()}
    expected = {(r.id_a, r.id_b, r.hamming) for r in full
                if r.id_a in new_ids or r.id_b in new_ids}
    assert got == expected and len(expected) > 0


def test_embedding_incremental_matches_full_corpus(spark):
    """Embedding-side incremental near-dup: new batch joined against the
    stored LSH bucket index (same hyperplane seed => same buckets) union
    within-batch equals the one-shot LSH result restricted to pairs
    touching the batch."""
    import numpy as np
    from jsonschema_spark.operators import dedup as D

    rng = np.random.RandomState(7)
    base = rng.randn(10, 16)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        rows.append((1000 + i, [float(x) for x in v + rng.randn(16) * 1e-3]))
    # Threshold edge pair: cosine 0.95 - 2.5e-7 is below the threshold but
    # rounds to 0.95 at 6 places, so both paths must filter on the raw
    # cosine. e0 and (c, s, 0, ...) share a bucket in 3 of the 6 seed-42
    # tables, so the pair is a candidate on both paths; 500 lands in the
    # corpus and 501 in the batch.
    c = 0.95 - 2.5e-7
    rows.append((500, [1.0] + [0.0] * 15))
    rows.append((501, [c, math.sqrt(1.0 - c * c)] + [0.0] * 14))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    old = df.where(F.col("vec_id") % 2 == 0)
    new = df.where(F.col("vec_id") % 2 == 1)

    idx = D.embedding_bucket_index(old, planes=8, tables=6, seed=42)
    edge_buckets = [{(r.tbl, r.bkt) for r in D.embedding_bucket_index(
        df.where(F.col("vec_id") == i), planes=8, tables=6, seed=42).collect()}
        for i in (500, 501)]
    assert edge_buckets[0] & edge_buckets[1]  # the edge pair is a candidate
    inc = D.embedding_incremental_near_duplicates(
        new, idx, threshold=0.95, planes=8, tables=6, seed=42).collect()
    got = {(min(r.id_new, r.id_other), max(r.id_new, r.id_other), r.cos)
           for r in inc}

    full = D.embedding_near_duplicates(df, threshold=0.95,
                                       planes=8, tables=6, seed=42).collect()
    new_ids = {r.vec_id for r in new.select("vec_id").collect()}
    expected = {(r.id_a, r.id_b, r.cos) for r in full
                if r.id_a in new_ids or r.id_b in new_ids}
    assert got == expected and len(expected) > 0
    assert not any(a == 500 for a, _, _ in got)


def test_flagship_spec_emits_stats_check_family(spark):
    """The flagship image spec now carries quantile/distinct/null-rate
    checks — all three verdict families appear (and pass on clean fixture
    data), so the north-metric suite exercises them."""
    from jsonschema_spark import fixtures as FX
    from jsonschema_spark.engine import validate_table

    cfg = FX.FixtureConfig(n=2000, n_parts=4, with_bytes=False, plants=False,
                           drift_part=-1)
    fact = FX.generate_images_df(spark, cfg)
    dims = {"dim_fmt": FX.dim_fmt_df(spark),
            "dim_license": FX.dim_license_df(spark, cfg)}
    res = validate_table(fact, FX.SPEC_IMAGES, dims=dims)
    fams = {r["pass_id"]: r["passed"] for r in res.verdicts.where(
        F.col("pass_id").isin("quantiles", "distinct", "null_rate")).collect()}
    assert set(fams) == {"quantiles", "distinct", "null_rate"}
    assert all(fams.values())


# ------------------------------------------------------ spec linter (lint.py)

def test_lint_spec_errors_and_warnings():
    from jsonschema_spark.lint import lint_spec

    findings = lint_spec({
        "properties": {
            "a": {"minimum": 10, "maximum": 5},          # error
            "b": {"enum": []},                           # error
            "c": {"then": {"minimum": 1}},               # warning (no if)
            "d": {"format": "made-up"},                  # warning
            "e": {"pattern": "(unclosed"},               # error
            "f": {"minContains": 2},                     # warning (no contains)
            "g": {"additionalProperties": False,
                  "unevaluatedProperties": False},       # warning (dead code)
        },
        "required": ["a", "zz"],                         # zz -> warning
    })
    by = {(sev, path): msg for sev, path, msg in findings}
    assert ("error", "/properties/a") in by
    assert ("error", "/properties/b") in by
    assert ("error", "/properties/e") in by
    assert ("warning", "/properties/c") in by
    assert ("warning", "/properties/d") in by
    assert ("warning", "/properties/f") in by
    assert ("warning", "/properties/g") in by
    assert any(p == "/" and "zz" in m for s, p, m in findings)
    # names declared only in applicator branches are NOT flagged
    clean = lint_spec({"required": ["x"],
                       "properties": {"y": {}},
                       "anyOf": [{"properties": {"x": {}}}]})
    assert not any("x" in m for _, _, m in clean)
    # clean spec has no findings
    assert lint_spec({"properties": {"n": {"minimum": 0, "maximum": 9}}}) == []

