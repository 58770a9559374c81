"""Partition-anomaly detection: flag ingestion batches whose per-partition
column profile is a robust outlier against the table's partition population.

Validation rationale (north rule: per-partition pass/fail at 10^12 rows):
range/type checks catch per-ROW corruption, drift tests catch distribution
shape changes vs a baseline — but a silently half-null batch, or a batch
whose mean jumped 10x, passes both when the damaged values are individually
legal. The partition profile catches exactly that failure mode.

Scale shape:
- the profile derives from mergeable state (non-null count, sum, null
  count per expression) that ``stats.partition_wide_agg`` puts in the
  stats rows: partitions × columns rows, independent of row count.
- ``anomaly_flags`` runs entirely on that tiny profile table: per-column
  median and MAD via window functions, no fact data touched. Robust
  statistics (median/MAD, not mean/stddev) so the outlier batches being
  hunted cannot mask themselves by inflating the spread estimate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..compile_spark import column_pointer
from .stats import partition_wide_agg, stats_long

# Φ^{-1}(0.75): MAD × 1.4826 estimates σ under normality, making the z
# threshold comparable to a classic z-score cut.
MAD_SIGMA = 1.4826


def partition_profile(
    df: DataFrame, columns: list[str], part_col: str = "part_id"
) -> DataFrame:
    """(part_id, n_rows, column, metric, value) — per-partition mean and
    null-rate for each requested column (a column name OR any SQL
    expression, e.g. ``length(caption)`` — same surface as the drift
    columns). The expression string itself is the reported label. This is
    ``stats.partition_wide_agg`` with no stats columns, projected by
    ``profile_from_stats``."""
    exprs = tuple(columns)
    wide = partition_wide_agg(df, [], part_col=part_col, anomaly_exprs=exprs)
    return profile_from_stats(stats_long(wide, [], exprs), columns)


def profile_from_stats(stats: DataFrame, exprs: list[str]) -> DataFrame:
    """The (part_id, n_rows, column, metric, value) profile of state rows
    (``stats.stats_long``): mean = sum_numeric / n_numeric, null rate =
    n_nulls / n_rows. The engine passes every judged partition's rows, a
    resume's completed ones included, as the median/MAD population."""
    metrics = F.array(
        F.struct(F.lit("mean").alias("metric"),
                 F.try_divide("sum_numeric", "n_numeric").alias("value")),
        F.struct(F.lit("null_rate").alias("metric"),
                 F.try_divide(F.col("n_nulls").cast("double"), "n_rows").alias("value")))
    return (
        stats.where(F.col("column").isin(list(exprs)))
        .select("part_id", "n_rows", "column", F.explode(metrics).alias("m"))
        .select("part_id", "n_rows", "column", "m.metric", "m.value")
    )


def anomaly_flags(profile: DataFrame, z_max: float = 3.5) -> DataFrame:
    """Robust z-score per (part_id, column, metric) against the partition
    population: z = (value − median) / (MAD_SIGMA × MAD). Partitions with
    |z| > z_max are flagged. MAD = 0 (all partitions identical) flags only
    exact deviants via the EPS floor.

    3.5 is the conventional robust-outlier cut (Iglewicz & Hoaglin, "How to
    Detect and Handle Outliers", 1993).
    """
    w = Window.partitionBy("column", "metric")
    med = F.median("value").over(w)
    p = profile.withColumn("med", med)
    mad = F.median(F.abs(F.col("value") - F.col("med"))).over(w)
    p = p.withColumn("mad", mad)
    z = (F.col("value") - F.col("med")) / (
        F.greatest(F.col("mad") * F.lit(MAD_SIGMA), F.lit(1e-12))
    )
    return (
        p.withColumn("robust_z", z)
        .withColumn("is_anomaly", F.abs(F.col("robust_z")) > F.lit(z_max))
    )


def anomaly_verdicts(flags: DataFrame) -> DataFrame:
    """Flagged partitions in the engine verdict schema."""
    path = column_pointer(F.col("column"))
    return (
        flags.filter(F.col("is_anomaly"))
        .select(
            "part_id",
            F.concat(F.lit("anomaly@"), path, F.lit(":"), F.col("metric"))
            .alias("check_id"),
            F.lit("anomaly").alias("keyword"),
            path.alias("path"),
            F.lit(False).alias("passed"),
            F.lit(1).cast("long").alias("n_violations"),
        )
    )
