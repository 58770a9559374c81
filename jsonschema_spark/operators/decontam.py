"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set, so eval answers cannot leak into
the training corpus (the GPT-3-appendix / PaLM decontamination procedure —
published method, n=8..13 grams in practice).

Scale shape (10^12-doc corpus, 10^3..10^5-doc benchmark): the benchmark
shingle set is SMALL by nature — eval sets are thousands of documents — so
it is broadcast and the corpus shingle stream is never shuffled: one
broadcast inner join on the scan output plus one hash aggregation keyed by
corpus doc (map-side combine applies; keys are per-document, no hot key).
The broadcast is unconditional: a "benchmark" too large to broadcast is
not an eval set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import shingles


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
) -> DataFrame:
    """Per contaminated corpus doc: (id_col, n_contaminated_grams) — the
    number of DISTINCT word n-grams the doc shares with ANY benchmark doc
    (``shingles`` de-dups grams within a doc, so the count is distinct-gram
    overlap). Docs with fewer than ``min_overlap`` shared grams are clean
    and never leave the aggregation."""
    c_sh = shingles(corpus, id_col, text_col, n)
    b_sh = F.broadcast(
        shingles(benchmark, id_col, bench_text_col or text_col, n)
        .select("shingle")
        .distinct()
    )
    return (
        c_sh.join(b_sh, "shingle")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
        .where(F.col("n_contaminated_grams") >= min_overlap)
        .select(F.col("id").alias(id_col), "n_contaminated_grams")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
) -> DataFrame:
    """The clean corpus: drop every doc ``contamination_hits`` flags.
    left_anti against the flagged-id set; no forced broadcast — the flagged
    set's size depends on how dirty the corpus is, so AQE picks the join
    strategy (the same rule as the uniqueness pass's dup-set join)."""
    hits = contamination_hits(
        corpus, benchmark, n, min_overlap, id_col, text_col, bench_text_col
    ).select(id_col)
    return corpus.join(hits, id_col, "left_anti")
