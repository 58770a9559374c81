"""End-to-end corpus curation: the composition every training-data pipeline
runs before a corpus ships — language filter, quality filter, PII redaction,
deduplication, deterministic train/val/test splits — built entirely from
this package's operators so each stage keeps its individual scale shape:

- langid / quality / PII / splits: pure Column expressions on the scan
- exact dedup: one fingerprint hash-agg, canonical = min id per fingerprint
- near-dup (opt-in): MinHash-LSH candidates + exact verify (dedup.py)

The funnel report (docs surviving each stage) is the artifact a data-quality
review reads. ``curate`` and ``curate_images`` both build it with
``_funnel``: one aggregation over one frame annotated with each stage's drop
marks, never one count per staged frame. It is deterministic, so the driver
query has an exact DuckDB oracle twin (`curate_documents`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import dedup as D
from . import pii as P
from . import sampling as S
from . import text as T


def _funnel(frame: DataFrame, stages: list[tuple[str, Column]]) -> DataFrame:
    """(stage_idx, stage, n_docs): every ``(name, aggregate)`` stage count
    evaluated in ONE ``frame.agg`` and exploded to one row per stage."""
    wide = frame.agg(*[agg.alias(f"s{i}") for i, (_, agg) in enumerate(stages)])
    rows = [F.struct(F.lit(i).alias("stage_idx"), F.lit(name).alias("stage"),
                     F.col(f"s{i}").cast("long").alias("n_docs"))
            for i, (name, _) in enumerate(stages)]
    return wide.select(F.explode(F.array(*rows)).alias("s")).select("s.*")


def curate(
    df: DataFrame,
    lang: str | None = "en",
    quality: bool = True,
    redact_pii: bool = True,
    near_dup_threshold: float | None = None,
    split_weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Returns (curated, funnel).

    ``curated``: the surviving rows of ``df`` with ``text_col`` redacted
    (when ``redact_pii``) and a ``split`` column (when ``split_weights``).
    ``funnel``: (stage_idx, stage, n_docs) — doc counts after each stage.

    Stage order is fixed (filters first so later, costlier stages see fewer
    rows; redaction before fingerprinting so dedup keys match what ships):
    input -> lang -> quality -> redact -> exact-dedup -> near-dup -> split.

    Scale shape:
    - lang/quality gate with scan-side filters (``language_id_cols`` /
      ``quality_score_cols``) — no score frame, no semi-join, no shuffle;
    - the funnel is ONE conditional aggregation over the scan (stage
      predicates as ``sum(cond)``, the dedup count as
      ``count_distinct(when(keep, fingerprint))``); a stage that drops
      nothing repeats the previous stage's aggregate;
    - the opt-in near-dup stage left-joins the scan to the distinct LSH
      drop ids and subtracts their count from the exact-dedup count — the
      same aggregation, no second count over the composed frame.
    """
    lang_ok = F.lit(True)
    if lang is not None:
        lang_ok = T.language_id_cols(text_col)[0] == F.lit(lang)
    keep_ok = lang_ok
    if quality:
        keep_ok = lang_ok & T.quality_score_cols(text_col)[-1]
    red_expr = P.redact_col(text_col) if redact_pii else F.col(text_col)
    # fingerprint of the text as it SHIPS (post-redaction); null-fp docs
    # collapse to one canonical like the groupBy form, hence the sentinel
    fp_expr = F.coalesce(T.fingerprint_cols(red_expr)[0], F.lit("\x00null"))

    stages = [("input", F.count(F.lit(1)))]
    if lang is not None:
        stages.append(("lang", F.sum(lang_ok.cast("long"))))
    if quality:
        stages.append(("quality", F.sum(keep_ok.cast("long"))))
    if redact_pii:
        stages.append(("redact", stages[-1][1]))    # redaction drops nothing
    stages.append(("exact_dedup",
                   F.count_distinct(F.when(keep_ok, fp_expr))))

    # --- curated rows: filters and redaction fold into the scan ---------
    cur = df
    if lang is not None:
        cur = cur.where(lang_ok)
    if quality:
        cur = cur.where(T.quality_score_cols(text_col)[-1])
    if redact_pii:
        cur = cur.withColumn(text_col, P.redact_col(text_col))
    # exact dedup: canonical = min id per normalized-content fingerprint
    fp = T.fingerprints(cur, text_col, id_col)
    canon = fp.groupBy("fingerprint").agg(F.min(id_col).alias(id_col)) \
        .select(id_col)
    cur = cur.join(canon, id_col, "left_semi")
    frame = df
    if near_dup_threshold is not None:
        pairs = D.minhash_dedup(cur, threshold=near_dup_threshold,
                                id_col=id_col, text_col=text_col)
        drop = pairs.select(F.col("id_b").alias("__near")).distinct()
        frame = df.join(drop, F.col(id_col) == F.col("__near"), "left")
        # pairs run over the exact-deduped cur: every dropped id survived it
        stages.append(("near_dedup", stages[-1][1] - F.count("__near")))
        cur = D.keep_canonical(cur, pairs, id_col=id_col)
    if split_weights:
        stages.append(("split", stages[-1][1]))     # splits drop nothing
        cur = S.assign_splits(cur, split_weights, key_col=id_col)
    return cur, _funnel(frame, stages)


def curate_images(
    fact: DataFrame,
    spec: dict | object,
    dims: dict[str, DataFrame] | None = None,
    max_hamming: int | None = 3,
    split_weights: dict[str, float] | None = None,
    key_col: str = "image_id",
    part_col: str = "part_id",
    phash_col: str = "phash",
) -> tuple[DataFrame, DataFrame]:
    """Image-table curation, validation-gated: the loop between the engine's
    two halves — Part-A validation decides WHICH rows are healthy, Part-B
    curation decides WHICH healthy rows ship.

    Stages: input -> valid (drop every row a row-addressable violation
    names: row checks, uniqueness examples, referential orphans — partition-
    level drift/anomaly verdicts gate deploys, not rows) -> phash near-dup
    dedup (pigeonhole Hamming pairs, keep-lowest-key canonical) ->
    deterministic splits. Returns (curated, funnel) like ``curate``.

    Scale shape: the fact table is left-joined once to the distinct
    violation keys (a narrow (row_key) projection of the violations
    stream) and once to the distinct phash drop ids (the B48 pigeonhole
    equi-join over the valid rows); ``curated`` filters that annotated
    frame and the funnel is one aggregation over it, so validation and
    the Hamming join run once for both. Splits are scan-side hash
    intervals.
    """
    from ..engine import validate_table

    res = validate_table(fact, spec, dims=dims, key_col=key_col,
                         part_col=part_col)
    bad = (res.violations.where(F.col("row_key").isNotNull())
           .select(F.col("row_key").alias("__bad")).distinct())
    frame = fact.join(bad, F.col(key_col).cast("string") == F.col("__bad"),
                      "left")
    keep = F.col("__bad").isNull()
    stages = [("input", F.count(F.lit(1))), ("valid", F.sum(keep.cast("long")))]

    if max_hamming is not None:
        sig = frame.where(keep).select(F.col(key_col).alias("id"),
                                       F.col(phash_col).alias("simhash"))
        pairs = D.hamming_near_duplicates(sig, max_hamming=max_hamming)
        drop = pairs.select(F.col("id_b").alias("__dup")).distinct()
        frame = frame.join(drop, F.col(key_col) == F.col("__dup"), "left")
        keep = keep & F.col("__dup").isNull()
        stages.append(("phash_dedup", F.sum(keep.cast("long"))))

    cur = frame.where(keep).select(*fact.columns)
    if split_weights:
        stages.append(("split", stages[-1][1]))
        cur = S.assign_splits(cur, split_weights, key_col=key_col)
    return cur, _funnel(frame, stages)
