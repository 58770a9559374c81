"""B1/B2 — table loaders. The ONLY place the storage format appears
(SURVEY.md §0): the sandbox has no Iceberg runtime jar, so the default is
partitioned Parquet; on a real cluster the swap to Iceberg is this module's
``format`` argument (or the SPARK_GRAFT_TABLE_FORMAT env) — nothing else in
the engine knows or cares.

Predicate pushdown / partition pruning / column pruning behave identically
for both formats at the DataFrame level: the engine always applies narrow
``.select()``s per pass and filter-based resume pruning, which Catalyst
pushes into either scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def load_fact_table(
    spark: SparkSession,
    location: str,
    fmt: str | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Load the image+caption fact table.

    ``location`` is a path (parquet) or a catalog identifier (iceberg).
    ``columns`` applies the narrow projection at load time so column
    pruning reaches the scan for every pass (never read ``bytes`` unless
    asked — SURVEY.md §4)."""
    fmt = fmt or os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet")
    if fmt == "iceberg":
        df = spark.read.format("iceberg").load(location)
    elif fmt == "parquet":
        df = spark.read.parquet(location)
    else:
        raise ValueError(f"unsupported table format {fmt!r}")
    if columns is not None:
        df = df.select(*columns)
    return df
