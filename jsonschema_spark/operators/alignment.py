"""Cross-modal embedding alignment (B56): given paired embeddings of the
same item from two modalities (caption text vs image pixels, audio vs
transcript, ...), score per-item cosine alignment, flag misaligned pairs,
and aggregate per-group alignment health — the standard curation gate for
image-text training corpora (a low CLIP-style alignment score means the
caption does not describe the image and the pair should be dropped or
re-captioned).

Scale shape: the score is a pure scan-side Column expression over the two
vector columns (one ``zip_with`` + ``aggregate`` fold in double precision —
no UDF, no shuffle, whole-stage codegen); the verdict filter composes with
it on the same scan; the per-group census is ONE hash aggregation keyed by
the group column (map-side partial aggregation, group cardinality rows out).
Nothing here joins or sorts, so at 100 TB each operator is a single linear
pass. When the two modalities live in separate tables, join them 1:1 on the
item id FIRST (equi-join on a unique key — AQE picks broadcast or
shuffle-hash) and feed the joined frame in; the operators deliberately do
not hide that join.

Null semantics (documented): a pair where either vector is NULL, empty, or
of mismatched length gets ``align_cos`` NULL and counts as misaligned in
verdicts/stats (``aligned = false``) — an unscorable pair must not pass a
curation gate silently. A zero-norm vector likewise yields NULL (cosine is
undefined, not 0).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import _dot, _norm


def alignment_cos(vec_a: Column, vec_b: Column) -> Column:
    """Cosine between two vector columns as a double Column; NULL when
    either side is NULL/empty/mismatched-length or has zero norm."""
    ok = (vec_a.isNotNull() & vec_b.isNotNull()
          & (F.size(vec_a) > 0) & (F.size(vec_a) == F.size(vec_b)))
    # widened to double before the multiply, summed left to right: the
    # oracle reproduces it exactly
    a, b = vec_a.cast("array<double>"), vec_b.cast("array<double>")
    denom = _norm(a) * _norm(b)
    return F.when(ok & (denom > 0), _dot(a, b) / denom)


def alignment_verdicts(
    df: DataFrame,
    vec_a: str = "text_vec",
    vec_b: str = "image_vec",
    id_col: str = "id",
    threshold: float = 0.2,
) -> DataFrame:
    """Per-item alignment verdicts: (id_col, align_cos, aligned).

    ``aligned`` is true iff the cosine is scorable AND >= ``threshold``;
    unscorable pairs (NULL cos — see module docstring) are false, so the
    downstream keep-filter ``where(aligned)`` never keeps an unscored pair.
    One scan, no exchanges.
    """
    cos = alignment_cos(F.col(vec_a), F.col(vec_b))
    return df.select(
        id_col,
        cos.alias("align_cos"),
        F.coalesce(cos >= F.lit(float(threshold)), F.lit(False)).alias("aligned"),
    )


def alignment_stats(
    df: DataFrame,
    vec_a: str = "text_vec",
    vec_b: str = "image_vec",
    group_col: str | None = None,
    threshold: float = 0.2,
) -> DataFrame:
    """Per-group alignment census: (group?, n, n_unscorable, n_misaligned,
    mean_cos, min_cos, max_cos). ``n_misaligned`` includes unscorable pairs
    (they fail the gate); mean/min/max are over the scorable ones (SQL
    aggregate null-skipping). ONE hash aggregation; ``group_col=None``
    collapses to a single global row.
    """
    cos = alignment_cos(F.col(vec_a), F.col(vec_b)).alias("_cos")
    base = df.select(*([group_col] if group_col else []), cos)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_cos").isNull().cast("long")).alias("n_unscorable"),
        F.sum((~F.coalesce(F.col("_cos") >= F.lit(float(threshold)),
                           F.lit(False))).cast("long")).alias("n_misaligned"),
        F.mean("_cos").alias("mean_cos"),
        F.min("_cos").alias("min_cos"),
        F.max("_cos").alias("max_cos"),
    ]
    return base.groupBy(group_col).agg(*aggs) if group_col else base.agg(*aggs)
