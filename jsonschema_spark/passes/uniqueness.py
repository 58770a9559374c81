"""P2 — salted two-stage uniqueness check (SURVEY.md B8).

BASELINE.json:6: "a salted-repartition uniqueness check on image_id and
phash". Exact duplicate detection over 10^12 rows:

Stage 1 groups by (key, salt) — the salt spreads a hot key (e.g. a phash
that covers 10% of the table) across S reducers so no single task receives
the whole key. Stage 2 sums the per-salt partial counts per key; keys with
total > 1 are duplicates. Both stages are plain hash aggregations with
map-side partial combine; the shuffle payload after stage 1 is at most
(#distinct keys × S) tiny rows regardless of input size.

Example rows are recovered by joining the (small) duplicate-key set back to
the fact table — broadcast when it fits, else AQE picks the strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..spec import pointer_token

DEFAULT_SALT_BUCKETS = 64


def duplicate_keys(
    df: DataFrame,
    key_cols: list[str],
    salt_buckets: int | None = None,
) -> DataFrame:
    """Keys appearing more than once: (key..., n_dups). Exact.

    Default is a SINGLE hash aggregation: for an algebraic agg (count),
    Catalyst's map-side partial aggregation already collapses a hot key to
    one partial row per task, so each reducer receives at most #tasks rows
    per key — skew-safe without salting. (Measured on 32M rows with a
    planted 10%-hot key: plain 2.3s vs two-stage salted 5.0s on local[32].)

    ``salt_buckets`` keeps the explicit two-stage salted form for
    non-algebraic follow-ups (e.g. collect_list of example rows per key)
    where partial aggregation cannot collapse the hot key.
    """
    if salt_buckets is None:
        return (
            df.select(*key_cols)
            .groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("n_dups"))
            .where(F.col("n_dups") > 1)
        )
    # Salt from the physical input split — deterministic within a job and
    # independent of the key value, so hot keys are split across reducers.
    salted = df.select(*key_cols).withColumn(
        "_salt", F.pmod(F.spark_partition_id(), F.lit(salt_buckets))
    )
    partial = salted.groupBy(*key_cols, "_salt").agg(F.count(F.lit(1)).alias("_c"))
    totals = partial.groupBy(*key_cols).agg(F.sum("_c").alias("n_dups"))
    return totals.where(F.col("n_dups") > 1)


def unique_path(key_cols: list[str]) -> str:
    """The check path of a uniqueness key: its columns as escaped tokens."""
    return "/" + ",".join(pointer_token(c) for c in key_cols)


def uniqueness_violations(
    df: DataFrame,
    key_cols: list[str],
    key_col: str,
    part_col: str = "part_id",
    salt_buckets: int | None = None,
) -> DataFrame:
    """Violation rows for duplicated keys, in the engine's violation schema
    (part_id, row_key, keyword, path, value). ``key_col`` is the table's
    primary-key column used as row_key; ``key_cols`` the uniqueness subject.
    """
    dups = duplicate_keys(df, key_cols, salt_buckets)

    path = unique_path(key_cols)
    # Join duplicate keys back to recover example rows. The dup-key set is
    # USUALLY tiny, but not by contract — a pathological table where half
    # the keys are duplicated makes it fact-scale, and a forced
    # F.broadcast would OOM the driver/executors at 10^12 rows. No hint:
    # AQE sizes the built dup-key shuffle stage at runtime and converts to
    # broadcast exactly when it actually fits (adaptive join selection).
    joined = df.select(part_col, key_col, *[c for c in key_cols if c != key_col]).join(
        dups.select(*key_cols), on=key_cols, how="left_semi"
    )
    return joined.select(
        F.col(part_col).alias("part_id"),
        F.col(key_col).cast("string").alias("row_key"),
        F.lit("uniqueItems").alias("keyword"),
        F.lit(path).alias("path"),
        F.concat_ws("|", *[F.col(k).cast("string") for k in key_cols]).alias("value"),
    )

