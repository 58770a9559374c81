"""P3 — referential checks against dimension tables (SURVEY.md B9–B11).

BASELINE.json:6: "broadcast/shuffle-hash referential checks against
dimension tables". A foreign-key check is a LEFT ANTI join: fact rows whose
key has no match in the dimension are the violations.

Join-strategy selection (the 100 TB lever):
- ``strategy="broadcast"`` (default for small dims, e.g. a 4-row fmt
  registry): the dim ships to every executor, the fact table never shuffles.
- ``strategy="shuffle_hash"``: for large dims (e.g. an all-licensed-ids
  registry with 10^11 keys) a broadcast is impossible and Catalyst's default
  sort-merge join would sort 10^12 fact rows; a shuffle-hash join avoids both
  sorts (hash the dim per task). AQE may still override if sizes allow.
- ``strategy="merge"``: a sort-merge join. Any other value raises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..spec import pointer_token

from ..spec import JOIN_STRATEGIES


def orphan_rows(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    strategy: str = "broadcast",
) -> DataFrame:
    """Fact rows whose key is absent from the dim (NULL keys are not
    orphans — `required` owns null-ness, matching SQL FK semantics)."""
    if strategy not in JOIN_STRATEGIES:
        raise ValueError(f"unknown join strategy {strategy!r}, not one of {JOIN_STRATEGIES}")
    d = dim.select(F.col(dim_key).alias(fact_key)).dropDuplicates([fact_key])
    d = F.broadcast(d) if strategy == "broadcast" else d.hint(strategy)
    return fact.join(d, on=fact_key, how="left_anti").where(F.col(fact_key).isNotNull())


def ref_path(fact_key: str, dim_name: str, dim_key: str) -> str:
    """The check path of a reference: the fact column as an escaped token."""
    return f"/{pointer_token(fact_key)}->{dim_name}.{dim_key}"


def referential_violations(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    key_col: str,
    part_col: str = "part_id",
    strategy: str = "broadcast",
    dim_name: str = "dim",
) -> DataFrame:
    """Violation rows (part_id, row_key, keyword, path, value) for FK orphans."""
    orphans = orphan_rows(
        fact.select(part_col, key_col, fact_key), dim, fact_key, dim_key, strategy
    )
    return orphans.select(
        F.col(part_col).alias("part_id"),
        F.col(key_col).cast("string").alias("row_key"),
        F.lit("references").alias("keyword"),
        F.lit(ref_path(fact_key, dim_name, dim_key)).alias("path"),
        F.col(fact_key).cast("string").alias("value"),
    )
