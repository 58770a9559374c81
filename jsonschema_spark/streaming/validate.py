"""B26 — Structured-Streaming variants of the validation passes.

The batch contract (SURVEY.md §2 B26) is the north rule; these wrappers add
the stateful parts of the incremental path for continuously-arriving data:
windowed column-stats aggregate with a watermark for late data, a custom
stateful drift tracker that accumulates per-group histograms across
micro-batches via ``applyInPandasWithState``, and continuous-ingestion
dedup against a persisted LSH index.

Row validation needs no streaming variant: it is stateless, so the
package's ``validate_stream`` is ``engine.validate_rows`` itself —
streaming and batch row semantics agree because they are one function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..passes.stats import numeric_columns


def windowed_stats_stream(
    stream_df: DataFrame,
    cols: list[str],
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
    with_quantiles: bool = False,
    kll_k: int = 200,
) -> DataFrame:
    """Tumbling-window column stats with late-data watermark: per (window,
    column) min/max/count/null-count — the streaming analogue of the fused
    B14 stats pass (map-side partial aggregation applies per micro-batch).

    ``with_quantiles`` adds a mergeable KLL sketch per NUMERIC column
    (binary, the streaming analogue of B42): window sketches written to the
    sink can later be merged across windows / with the batch stats manifest
    via ``passes.stats.merge_quantiles`` — one continuous quantile surface
    over batch + stream."""
    w = stream_df.withWatermark(ts_col, watermark).groupBy(
        F.window(F.col(ts_col), window).alias("win")
    )
    numeric = numeric_columns(stream_df, cols)
    aggs = []
    for c in cols:
        aggs += [
            F.min(c).cast("string").alias(f"{c}_min"),
            F.max(c).cast("string").alias(f"{c}_max"),
            F.count(c).alias(f"{c}_count"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls"),
        ]
        if with_quantiles and c in numeric:
            aggs.append(
                F.kll_sketch_agg_double(F.col(c).cast("double"), F.lit(kll_k))
                .alias(f"{c}_kll"))
    return w.agg(*aggs)


def drift_state_stream(
    stream_df: DataFrame,
    value_col: str,
    group_col: str,
    lo: float,
    hi: float,
    buckets: int = 16,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): accumulates a
    running histogram per group across micro-batches and emits the updated
    bucket counts each batch — the incremental feed for KS/PSI drift.
    State is one int array per group (bounded, mergeable).

    ``timeout_ms`` arms processing-time state eviction for idle groups.
    Only meaningful on continuous sources: an armed timeout keeps the query
    scheduling cleanup triggers, so finite-source runs that wait for
    quiescence (processAllAvailable) must leave it None."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{group_col} string, bucket int, n long"
    state_schema = "counts array<long>"

    def update(key, pdfs, state: GroupState):
        import numpy as np

        if state.hasTimedOut:
            # idle group: evict state (re-arming here would keep the query
            # in a cleanup loop forever and processAllAvailable never quiesces)
            state.remove()
            return

        counts = np.zeros(buckets + 2, dtype=np.int64)
        if state.exists:
            (prev,) = state.get
            counts += np.asarray(prev, dtype=np.int64)
        for pdf in pdfs:
            v = pd.to_numeric(pdf[value_col], errors="coerce").to_numpy(dtype=float)
            v = v[~pd.isna(v)]
            idx = np.clip(
                ((v - lo) / max(hi - lo, 1e-12) * buckets).astype(np.int64) + 1,
                0, buckets + 1,
            )
            idx[v < lo] = 0
            idx[v >= hi] = buckets + 1
            counts += np.bincount(idx, minlength=buckets + 2)
        state.update((counts.tolist(),))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        nz = np.nonzero(counts)[0]
        yield pd.DataFrame({
            group_col: [key[0]] * len(nz),
            "bucket": nz.astype("int32"),
            "n": counts[nz],
        })

    return (
        stream_df.groupBy(group_col)
        .applyInPandasWithState(
            update, out_schema, state_schema, "update",
            GroupStateTimeout.ProcessingTimeTimeout if timeout_ms is not None
            else GroupStateTimeout.NoTimeout,
        )
    )


def incremental_dedup_stream(
    stream_df: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    append_to_index: bool = True,
    num_hashes: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
):
    """Continuous ingestion dedup: every arriving micro-batch is signed and
    joined against the PERSISTED corpus LSH index (operators/dedup.py B48),
    its candidate hits appended to ``out_path``, and (by default) its own
    bucket rows appended to the index — so batch N+1 sees batch N's docs.

    ``foreachBatch`` is the right primitive here (not a stateful streaming
    agg): MinHash signatures need a groupBy over the batch's shingles, and
    the index lookup is a batch-side stream-static join against a path that
    GROWS between triggers — re-read per batch so appends are visible.

    Failure semantics: a replayed micro-batch may append its index rows
    twice; duplicate index rows are harmless for correctness (candidates
    are ``distinct``-ed) and bounded by one batch per recovery. Returns the
    started StreamingQuery."""
    from ..operators.dedup import (
        minhash_band_buckets, minhash_incremental_candidates, minhash_signatures,
    )

    def handle(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        idx = spark.read.parquet(index_path)
        hits = minhash_incremental_candidates(
            batch, idx, num_hashes, bands, id_col, text_col, n)
        hits.withColumn("batch_id", F.lit(batch_id)) \
            .write.mode("append").parquet(out_path)
        if append_to_index:
            sig = minhash_signatures(batch, num_hashes, id_col, text_col, n)
            minhash_band_buckets(sig, num_hashes, bands) \
                .write.mode("append").parquet(index_path)

    return (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .start()
    )
