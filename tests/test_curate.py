"""Curation pipelines (operators/curate.py): the funnel counts of ``curate``
and ``curate_images``, the rows they keep, and the plan shapes that make
every funnel stage count come from one aggregation over one frame."""

import re


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


_JOIN_RX = re.compile(
    r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin")


def _node_count(plan: str, node: str) -> int:
    """Plan nodes named ``node`` (a regex) — ``ReusedExchange`` lines do not
    count as ``Exchange``."""
    return len(re.findall(rf"^[\s:+|\-]*(?:\*\(\d+\) )?(?:{node})\b", plan, re.M))


def test_curate_pipeline_every_stage_bites(spark):
    """Planted corpus where each stage removes something: non-English docs,
    a too-short doc, exact dups (post-redaction), and near-dups; the funnel
    counts descend accordingly and the curated output carries redacted text
    + deterministic splits. The near-dup stage counts inside the funnel's
    one aggregation — no Union of per-stage counts."""
    from jsonschema_spark.operators.curate import curate

    en = ("the quick brown fox jumps over the lazy dog and it is that for " * 3)
    rows = [
        (1, en + "one"),
        (2, en + "two"),
        (3, en + "one"),                    # exact dup of 1 (post-normalization)
        (4, "der die das und ist nicht ein mit fur von der die das und ist"),  # German
        (5, "the of to"),                   # too short -> quality
        (6, en + "mail me at a@b.com for it"),   # PII -> redacted
        (7, en + "one two three four five six"),  # near-dup of 1 under low threshold
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    curated, funnel = curate(df, lang="en", quality=True, redact_pii=True,
                             near_dup_threshold=0.5,
                             split_weights={"train": 0.8, "val": 0.2})
    f = {r["stage"]: r["n_docs"] for r in funnel.collect()}
    assert f["input"] == 7
    assert f["lang"] == 6          # doc 4 out
    assert f["quality"] == 5       # doc 5 out
    assert f["redact"] == 5
    assert f["exact_dedup"] == 4   # doc 3 out (dup of 1)

    out = curated.collect()
    assert f["near_dedup"] == f["split"] == len(out) < 4
    assert "Union" not in _plan(funnel), _plan(funnel)
    assert all(r["split"] in ("train", "val") for r in out)
    kept = {r["doc_id"]: r["text"] for r in out}
    assert 1 in kept and 4 not in kept and 5 not in kept and 3 not in kept
    if 6 in kept:
        assert "[EMAIL]" in kept[6] and "a@b.com" not in kept[6]


def test_curate_images_validation_gated(spark):
    """Validation output gates curation: rows named by row-addressable
    violations (row checks, dup examples, orphans) are dropped, then phash
    near-dups fold to the lowest key, then splits assign. The funnel runs
    validation and the Hamming join no more often than ``curated`` does:
    its executed plan has at most ``curated``'s exchanges and cached-frame
    scans (a Union of per-stage counts re-ran the validation subtree once
    per stage)."""
    from jsonschema_spark.operators.curate import curate_images

    base = 0x0123456789ABCDEF
    rows = [
        # (image_id, part_id, w, h, fmt, phash)
        ("img-0", 0, 100, 100, "png", base),
        ("img-1", 0, 100, 100, "png", base ^ 0b11),     # phash dist 2 of img-0
        ("img-2", 1, -5, 100, "png", 1 << 20),          # w violates minimum
        ("img-3", 1, 100, 100, "gif", 2 << 20),         # fmt violates enum
        ("img-4", 1, 100, 100, "bmp", 0),               # clean, far from all
        ("img-5", 0, 100, 100, "raw", 0x0F0F0F0F),      # clean, dist 16 from img-4
    ]
    df = spark.createDataFrame(
        rows, "image_id string, part_id int, w int, h int, fmt string, phash long")
    spec = {"properties": {"w": {"minimum": 0},
                           "fmt": {"enum": ["png", "bmp", "raw", "jpeg"]}},
            "x-table-checks": {"unique": [["image_id"]]}}
    curated, funnel = curate_images(
        df, spec, max_hamming=3, split_weights={"train": 0.8, "val": 0.2})
    f = {r["stage"]: r["n_docs"] for r in funnel.collect()}
    assert f == {"input": 6, "valid": 4, "phash_dedup": 3, "split": 3}
    out = curated.collect()
    assert {r["image_id"] for r in out} == {"img-0", "img-4", "img-5"}  # img-1 folded into img-0
    assert all(r["split"] in ("train", "val") for r in out)

    fplan, cplan = _plan(funnel), _plan(curated)
    for node in ("(?:Broadcast)?Exchange", "InMemoryTableScan"):
        assert 0 < _node_count(fplan, node) <= _node_count(cplan, node), \
            (node, fplan, cplan)


def test_curate_funnel_single_pass_no_joins(spark):
    """The funnel must be ONE conditional aggregation over the scan: no join
    operator anywhere, and only the aggregation's own exchanges (the r4
    composition re-counted every staged frame — 29 exchanges and a
    left_semi shuffle per predicate stage)."""
    from jsonschema_spark.operators.curate import curate

    docs = spark.createDataFrame(
        [(i, f"the of to and is in it you that he was for on are {i}")
         for i in range(50)],
        "doc_id long, text string")
    _, funnel = curate(docs, lang="en", quality=True, redact_pii=True,
                       near_dup_threshold=None,
                       split_weights={"train": 0.9, "val": 0.1})
    plan = _plan(funnel)
    assert not _JOIN_RX.search(plan), plan
    assert plan.count("Exchange") <= 3, plan


def test_curate_lang_quality_are_scan_side_filters(spark):
    """The curated frame's only join is the exact-dedup left_semi — the
    lang and quality gates must compile to Filter nodes on the scan, not
    score-frame joins."""
    from jsonschema_spark.operators.curate import curate

    docs = spark.createDataFrame(
        [(i, f"the of to and is in it you that he was for on are {i}")
         for i in range(50)],
        "doc_id long, text string")
    curated, _ = curate(docs, lang="en", quality=True, redact_pii=True,
                        near_dup_threshold=None, split_weights=None)
    plan = _plan(curated)
    assert len(_JOIN_RX.findall(plan)) == 1, plan  # the dedup semi-join only
    assert "LeftSemi" in plan, plan


def test_curate_funnel_matches_staged_counts(spark):
    """The one-pass conditional-aggregation funnel must report the same
    counts the staged composition would: planted rows exercising every
    stage (non-English, low-quality, PII, exact dup pair)."""
    from jsonschema_spark.operators.curate import curate

    en = "the quick brown fox jumps over the lazy dog and it is that for " * 3
    rows = [
        (1, en + "one"),
        (2, en + "two"),
        (3, en + "one"),          # exact dup of 1 post-normalization
        (4, "der die das und ist nicht ein mit fur von der die das und ist"),
        (5, "the of to"),         # quality fail
        (6, en + "mail a@b.com"),  # PII redacted, survives
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    curated, funnel = curate(df, lang="en", quality=True, redact_pii=True,
                             near_dup_threshold=None,
                             split_weights={"train": 1.0})
    f = {r["stage"]: (r["stage_idx"], r["n_docs"]) for r in funnel.collect()}
    assert f == {"input": (0, 6), "lang": (1, 5), "quality": (2, 4),
                 "redact": (3, 4), "exact_dedup": (4, 3), "split": (5, 3)}
    kept = {r["doc_id"] for r in curated.collect()}
    assert kept == {1, 2, 6}
