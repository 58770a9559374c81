"""B4 — checkpointed per-partition lineage + metrics manifest (resume).

BASELINE.json:6/14: "resumable from a checkpointed per-partition lineage +
metrics manifest". The manifest is itself a small Parquet table, one row per
(part_id, pass_id) batch completion, carrying lineage (rows, violations,
wall_ms, engine version). ``job.py`` records ``wall_ms`` as NULL: a fused
run cannot observe a per-partition wall time. The mergeable state that lets
table-wide rollups survive resume boundaries (B15) is in the stats sink.

Resume semantics: completed part_ids are skipped via an anti-join (B7) —
or, when the done-list is small, a pushed-down ``NOT IN`` partition filter
that Parquet/Iceberg partition-prunes (no data read at all for done parts).
Violations are written partitioned by part_id, so a retried partition
overwrites its own output (idempotent, exactly-once effect).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import __version__

# part_id is stored as STRING — the universal partition-key encoding (the
# same choice hive-style partition paths make): the fact table's partition
# column may be int (part_id), string (fmt, o_orderpriority) or date, and
# the lineage record must carry any of them. split converts the
# done-list back to the fact column's own type driver-side, so the resume
# predicate stays a typed IN-list the parquet scan can prune on.
MANIFEST_SCHEMA = (
    "part_id string, pass_id string, status string, n_rows long, n_violations long, "
    "wall_ms double, engine_version string, ts double"
)

_INT_TYPENAMES = ("integer", "long", "short", "byte")


def _native_part(v):
    """Manifest part_id (string) -> int when it round-trips, else string."""
    if v is None:
        return None
    try:
        return int(v)
    except (TypeError, ValueError):
        return v

# Below this many done partitions, resume uses an IN-list filter that
# partition-prunes the scan; above it, an anti-join (SURVEY.md B7).
PRUNE_LIST_MAX = 10_000


class Manifest:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._rows_dir = os.path.join(path, "rows")

    def exists(self) -> bool:
        return os.path.isdir(self._rows_dir) and any(
            f.endswith(".parquet") for _, _, fs in os.walk(self._rows_dir) for f in fs
        )

    def read(self) -> DataFrame:
        if not self.exists():
            return self.spark.createDataFrame([], MANIFEST_SCHEMA)
        return self.spark.read.parquet(self._rows_dir)

    def completed_parts(self, pass_id: str) -> list:
        """Done part keys, as int where the stored string round-trips
        (the common part_id case), else as the raw string."""
        df = self.read()
        return [
            _native_part(r.part_id)
            for r in df.where((F.col("pass_id") == pass_id) & (F.col("status") == "done"))
            .select("part_id").distinct().collect()
        ]

    def record(self, rows: list[dict]) -> None:
        """Atomic append: write a new parquet file into the manifest dir."""
        now = time.time()
        payload = [
            {
                "part_id": None if r["part_id"] is None else str(r["part_id"]),
                "pass_id": str(r["pass_id"]),
                "status": r.get("status", "done"),
                "n_rows": int(r.get("n_rows", 0)),
                "n_violations": int(r.get("n_violations", 0)),
                "wall_ms": None if r.get("wall_ms") is None else float(r["wall_ms"]),
                "engine_version": __version__,
                "ts": now,
            }
            for r in rows
        ]
        self.spark.createDataFrame(payload, MANIFEST_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self._rows_dir)

    def write_summary(self, summary: dict) -> None:
        os.makedirs(self.path, exist_ok=True)
        with open(os.path.join(self.path, "summary.json"), "w") as f:
            json.dump(summary, f, indent=2, default=str)

    def filter_pending(self, fact: DataFrame, pass_id: str, part_col: str = "part_id") -> DataFrame:
        """B7: drop partitions already completed for ``pass_id``."""
        return self.split(fact, self.completed_parts(pass_id), part_col)[0]

    def split(self, fact: DataFrame, done: list, part_col: str = "part_id"
              ) -> tuple[DataFrame, DataFrame | None]:
        """(pending, completed): ``fact``'s rows outside and inside the
        partitions ``done`` (as ``completed_parts`` lists them), or None."""
        if not done:
            return fact, None
        # Convert the done-list to the FACT column's own type so the
        # predicate/join key is typed (no implicit column cast that would
        # block parquet filter pushdown on the partition column).
        dt = fact.schema[part_col].dataType
        tname = dt.typeName()
        if tname in _INT_TYPENAMES:
            done = [int(d) for d in done]
        elif tname == "string":
            done = [str(d) for d in done]
        if len(done) <= PRUNE_LIST_MAX:
            # IN-list → Catalyst partition-prunes the parquet scan entirely.
            is_done = F.col(part_col).isin(done)
            return fact.where(~is_done), fact.where(is_done)
        done_df = self.spark.createDataFrame(
            [(d,) for d in done], f"{part_col} {dt.simpleString()}")
        return tuple(fact.join(done_df, part_col, how) for how in ("left_anti", "left_semi"))
